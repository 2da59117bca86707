"""Benchmark inputs, generated from a seed with numpy and pyarrow only.

Nothing here imports the program under test: the inputs must exist (and be
identical) whether or not the program does, so a parent commit and a change
are always measured on the same bytes.

Shapes:

- ``documents`` / ``blobs``: the interleaved documents table of FIXTURES.md
  section 1 (tag spans + ``geom://`` media spans) and its geometry-blob side
  table. Blob payloads use the little-endian blob layout: POINT
  ``<B d d`` (kind 1), SEGMENT ``<B B q i`` + ``i8[n] f8[n] f8[n]`` (kind 2).
  90 % node docs, 8 % area docs (multipolygon relations split into way
  segments, some reversed, some with inner rings, unknown roles, dangling
  refs or oversize rings), 2 % admin polygons.
- spatial tables: Zipf-clustered ``points``, admin ``polygons``, small
  ``landuse`` polygons, road ``segments``, GPS ``fixes`` walking along the
  roads, and ranked ``labels``.

Layout is Zipf-skewed around cluster centres, so dense cells exist.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import struct
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KIND_POINT = 1
KIND_SEGMENT = 2
ROLE_OUTER = 0
ROLE_INNER = 1
ROLE_UNKNOWN = 255

FLAGSHIP_DOCS = 16_000
SPATIAL_SIZES = {"points": 20_000, "admin": 64, "landuse": 800, "segments": 6_000,
                 "fixes": 3_000, "labels": 6_000}

_WORDS = (
    "Neu Alt Ober Unter Bad Gross Klein Sankt Hohen Wald Berg Tal Feld See Stein Burg "
    "Dorf Stadt Hof Haus Kirch Muehl Bach Brunn Eich Linden Rosen Birken Ahorn Weiden"
).split()
_SUFFIX = ("heim", "hausen", "ingen", "stadt", "dorf", "berg", "tal", "furt", "brücke", "weiler")
_BREAKS = ("\r\n", "\u2028", "\r")
_PLACES = ("city", "town", "village", "hamlet", "suburb")
_PLACE_P = (0.05, 0.15, 0.30, 0.30, 0.20)
_AMENITIES = ("school", "university", "library", "hospital", "cafe", "restaurant", "bench", "parking")
_AMENITY_P = (0.20, 0.05, 0.10, 0.08, 0.20, 0.12, 0.15, 0.10)

_SPAN = pa.struct([
    pa.field("kind", pa.string(), nullable=False),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32(), nullable=False),
])
DOCS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.field("element", _SPAN, nullable=False)), nullable=False),
])
BLOBS_SCHEMA = pa.schema([
    pa.field("blob_id", pa.string(), nullable=False),
    pa.field("payload", pa.binary(), nullable=False),
])


def generator_hash() -> str:
    """Hash of this file: a cached input set is reused only while the code
    that made it is unchanged."""
    return hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]


def pack_point(lat: float, lon: float) -> bytes:
    return struct.pack("<Bdd", KIND_POINT, lat, lon)


def pack_segment(role: int, way_id: int, node_ids, lats, lons) -> bytes:
    head = struct.pack("<BBqi", KIND_SEGMENT, role, way_id, len(node_ids))
    return (head + np.asarray(node_ids, "<i8").tobytes() + np.asarray(lats, "<f8").tobytes()
            + np.asarray(lons, "<f8").tobytes())


class _Clusters:
    """Zipf-weighted cluster centres: a few centres hold most of the rows."""

    def __init__(self, rng: np.random.Generator, k: int, lat_range=(-60.0, 70.0), lon_range=(-180.0, 180.0)):
        self.lat = rng.uniform(*lat_range, k)
        self.lon = rng.uniform(*lon_range, k)
        w = 1.0 / np.arange(1, k + 1)
        self.p = w / w.sum()

    def sample(self, rng: np.random.Generator, n: int, sigma: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        c = rng.choice(len(self.p), size=n, p=self.p)
        lat = np.clip(self.lat[c] + rng.normal(0, sigma, n), -89.0, 89.0)
        lon = ((self.lon[c] + rng.normal(0, sigma, n) + 180.0) % 360.0) - 180.0
        return c, lat, lon


def _name(rng: np.random.Generator) -> str:
    style = rng.random()
    w1, w2, w3 = (_WORDS[i] for i in rng.integers(len(_WORDS), size=3))
    sfx = _SUFFIX[rng.integers(len(_SUFFIX))]
    if style < 0.35:
        return f"{w1}{sfx}"
    if style < 0.60:
        return f"{w1} {w2}{sfx}"
    if style < 0.75:
        return f"{w1}-{w2}{sfx}"
    if style < 0.85:
        return f"{w1}{sfx}/{w2}{sfx}"
    if style < 0.95:  # longer than the 15-character split bound
        return f"{w1}{sfx} {w2}{sfx} {w3}{sfx}"
    brk = _BREAKS[rng.integers(len(_BREAKS))]  # embedded line breaks
    return f"{w1}{sfx}{brk}{w2}{sfx}"


def _spans(tags: list[tuple[str, str]], refs: list[str], rng: np.random.Generator) -> list[dict]:
    spans = [("tag", f"{k}={v}", None) for k, v in tags]
    at = int(rng.integers(0, len(spans) + 1))
    for j, ref in enumerate(refs):
        spans.insert(at + j, ("geom", None, f"geom://{ref}"))
    return [{"kind": k, "text": t, "media_ref": m, "offset": i} for i, (k, t, m) in enumerate(spans)]


def _ring(rng: np.random.Generator, lat0: float, lon0: float, m: int, radius: float):
    ang = np.sort(rng.uniform(0, 2 * np.pi, m))
    r = radius * (0.7 + 0.6 * rng.random(m))
    return lat0 + r * np.sin(ang), lon0 + r * np.cos(ang)


def _segments(tag: int, lats, lons, node_base: int, role: int, n_segs: int, rng) -> list[tuple[str, bytes]]:
    """Split a closed ring into way segments sharing endpoints; ~40 % reversed."""
    m = len(lats)
    ids = node_base + np.arange(m, dtype=np.int64)
    cuts = sorted(rng.choice(np.arange(1, m), size=min(n_segs - 1, m - 1), replace=False).tolist()) if n_segs > 1 else []
    bounds = [0, *cuts, m]
    out = []
    for k in range(len(bounds) - 1):
        idx = np.arange(bounds[k], bounds[k + 1] + 1)
        idx[idx == m] = 0
        i_, la, lo = ids[idx], lats[idx], lons[idx]
        if rng.random() < 0.4:
            i_, la, lo = i_[::-1], la[::-1], lo[::-1]
        way_id = 10**9 + tag * 10 + k
        out.append((f"seg-{way_id}", pack_segment(role, way_id, i_, la, lo)))
    return out


def documents(seed: int, n_docs: int) -> tuple[pa.Table, pa.Table]:
    """(documents, blobs) tables: node, area and admin docs interleaved in
    doc_id order."""
    rng = np.random.default_rng([seed, 1])
    clusters = _Clusters(rng, 256)
    n_nodes, n_areas = int(n_docs * 0.90), int(n_docs * 0.08)
    docs: list[dict] = []
    blobs: list[tuple[str, bytes]] = []

    _, lat, lon = clusters.sample(rng, n_nodes, 0.05)
    for i in range(n_nodes):
        osm_id = i + 1
        tags: list[tuple[str, str]] = []
        if rng.random() < 0.60:
            tags.append(("place", _PLACES[rng.choice(5, p=_PLACE_P)]))
            if rng.random() < 0.95:
                tags.append(("name", _name(rng)))
            if rng.random() < 0.80:
                tags.append(("population", str(int(10 ** rng.uniform(2.0, 7.3)))))
            for key, p in (("name:de", 0.10), ("name:en", 0.10), ("official_name", 0.05)):
                if rng.random() < p:
                    tags.append((key, _name(rng)))
        else:
            tags.append(("amenity", _AMENITIES[rng.choice(8, p=_AMENITY_P)]))
            if rng.random() < 0.60:
                tags.append(("name", _name(rng)))
            if rng.random() < 0.30:
                tags.append(("capacity", str(int(rng.integers(10, 5000)))))
        if rng.random() < 0.30:
            tags.append(("source", "survey"))
        bid = f"pt-{osm_id}"
        docs.append({"doc_id": f"node/{osm_id}", "spans": _spans(tags, [bid], rng)})
        blobs.append((bid, pack_point(float(lat[i]), float(lon[i]))))

    _, alat, alon = clusters.sample(rng, n_areas, 0.05)
    for i in range(n_areas):
        rel_id = 10**8 + i
        m = int(rng.integers(101, 160)) if rng.random() < 0.03 else int(rng.integers(4, 31))
        rl, rg = _ring(rng, float(alat[i]), float(alon[i]), m, 0.01)
        base = 10**10 + i * 400
        segs = _segments(8 * i, rl, rg, base, ROLE_OUTER, int(rng.integers(1, 5)), rng)
        if rng.random() < 0.10:
            il, ig = _ring(rng, float(alat[i]), float(alon[i]), int(rng.integers(4, 8)), 0.002)
            segs += _segments(8 * i + 1, il, ig, base + 200, ROLE_INNER, 1, rng)
        if rng.random() < 0.03:
            ul, ug = _ring(rng, float(alat[i]), float(alon[i]), 4, 0.001)
            segs += _segments(8 * i + 2, ul, ug, base + 300, ROLE_UNKNOWN, 1, rng)
        refs = [b for b, _ in segs]
        if rng.random() < 0.02:
            refs.append(f"seg-missing-{rel_id}")
        if rng.random() < 0.70:
            tags = [("place", ("suburb", "village")[rng.integers(2)]), ("name", _name(rng))]
            if rng.random() < 0.5:
                tags.append(("population", str(int(10 ** rng.uniform(2.0, 5.0)))))
        else:
            tags = [("amenity", ("school", "university", "hospital")[rng.integers(3)])]
            if rng.random() < 0.7:
                tags.append(("name", _name(rng)))
        docs.append({"doc_id": f"rel/{rel_id}", "spans": _spans(tags, refs, rng)})
        blobs.extend(segs)

    for i in range(n_docs - n_nodes - n_areas):
        c = i % len(clusters.p)
        poly_id = 10**7 + i
        rl, rg = _ring(rng, float(np.clip(clusters.lat[c], -85, 85)), float(clusters.lon[c]), int(rng.integers(6, 16)), 0.25)
        segs = _segments(8 * i + 3, rl, rg, 2 * 10**10 + i * 400, ROLE_OUTER, 1, rng)
        tags = [("boundary", "administrative"), ("admin_level", str(int(rng.integers(4, 9)))),
                ("name", f"Region {poly_id}")]
        docs.append({"doc_id": f"admin/{poly_id}", "spans": _spans(tags, [b for b, _ in segs], rng)})
        blobs.extend(segs)

    docs_t = pa.Table.from_pylist(docs, schema=DOCS_SCHEMA)
    blobs_t = pa.table({"blob_id": [b for b, _ in blobs], "payload": [p for _, p in blobs]}, schema=BLOBS_SCHEMA)
    return docs_t, blobs_t


def _rings(rng, lat0, lon0, radius, m_lo, m_hi) -> tuple[list, list]:
    lats, lons = [], []
    for a, b in zip(lat0, lon0):
        rl, rg = _ring(rng, float(a), float(b), int(rng.integers(m_lo, m_hi)), radius)
        lats.append(rl.tolist())
        lons.append(rg.tolist())
    return lats, lons


def spatial(seed: int, sizes: dict[str, int] = SPATIAL_SIZES) -> dict[str, pa.Table]:
    """points, polygons, landuse, segments, fixes and labels over 32 Zipf
    clusters. Points and labels sit tight around the centres (dense cells);
    admin polygons are ~0.3 deg wide, landuse ~0.04 deg."""
    rng = np.random.default_rng([seed, 2])
    cl = _Clusters(rng, 32, lat_range=(-50.0, 60.0))
    out: dict[str, pa.Table] = {}

    _, lat, lon = cl.sample(rng, sizes["points"], 0.03)
    out["points"] = pa.table({"pid": np.arange(sizes["points"], dtype=np.int64), "lat": lat, "lon": lon})

    # admin polygons sit on the cluster centres (round robin, slightly
    # jittered) and reach past 3.5 sigma of the point clusters, so the pip
    # hit count, most of this workload's output rows, barely moves from
    # seed to seed
    c = np.arange(sizes["admin"]) % len(cl.p)
    plat = cl.lat[c] + rng.normal(0, 0.005, sizes["admin"])
    plon = cl.lon[c] + rng.normal(0, 0.005, sizes["admin"])
    rl, rg = _rings(rng, plat, plon, 0.15, 6, 16)
    ids = np.arange(sizes["admin"], dtype=np.int64) + 10**7
    out["polygons"] = pa.table({"poly_id": ids, "name": [f"Region {i}" for i in ids],
                                "ring_lats": rl, "ring_lons": rg})

    _, llat, llon = cl.sample(rng, sizes["landuse"], 0.2)
    rl, rg = _rings(rng, llat, llon, 0.02, 4, 12)
    out["landuse"] = pa.table({"lid": np.arange(sizes["landuse"], dtype=np.int64), "ring_lats": rl, "ring_lons": rg})

    n = sizes["segments"]
    _, slat, slon = cl.sample(rng, n, 0.1)
    ang = rng.uniform(0, 2 * np.pi, n)
    step = rng.uniform(0.0005, 0.003, n)
    out["segments"] = pa.table({"sid": np.arange(n, dtype=np.int64), "lat1": slat, "lon1": slon,
                                "lat2": slat + step * np.sin(ang), "lon2": slon + step * np.cos(ang)})

    # fixes: noisy points along the roads, 40 per user, one per 10 s
    n = sizes["fixes"]
    seg = rng.integers(0, sizes["segments"], n)
    t = rng.random(n)
    seg_t = out["segments"]
    la1, lo1 = seg_t["lat1"].to_numpy()[seg], seg_t["lon1"].to_numpy()[seg]
    la2, lo2 = seg_t["lat2"].to_numpy()[seg], seg_t["lon2"].to_numpy()[seg]
    out["fixes"] = pa.table({
        "user_id": np.arange(n, dtype=np.int64) // 40,
        "fid": np.arange(n, dtype=np.int64),
        "ts_s": (np.arange(n, dtype=np.int64) % 40) * 10,
        "lat": la1 + t * (la2 - la1) + rng.normal(0, 0.0002, n),
        "lon": lo1 + t * (lo2 - lo1) + rng.normal(0, 0.0002, n),
    })

    n = sizes["labels"]
    _, blat, blon = cl.sample(rng, n, 0.05)
    osm_id = rng.permutation(n).astype(np.int64) + 1
    out["labels"] = pa.table({"osm_id": osm_id, "rank": np.arange(n, dtype=np.int64), "lat": blat, "lon": blon,
                              "label": [f"L{i}" for i in osm_id]})
    return out


def tables(workload: str, seed: int) -> dict[str, pa.Table]:
    if workload == "spatial":
        return spatial(seed)
    docs, blobs = documents(seed, FLAGSHIP_DOCS)
    return {"documents": docs, "blobs": blobs}


def write_table(table: pa.Table, path: Path, files: int) -> None:
    """A table as a directory of ``files`` parquet files."""
    path.mkdir(parents=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")


def num_rows(path: Path) -> int:
    return sum(pq.read_metadata(f).num_rows for f in sorted(path.glob("*.parquet")))


def ensure_inputs(cache_root: Path, workload: str, seed: int) -> Path:
    """Directory of ``<table>.parquet`` tables for (workload, seed), made on
    first use and reused while this file is unchanged."""
    out = cache_root / f"{workload}-{seed}-{generator_hash()}"
    if (out / "_DONE").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    # the documents and blobs are the large fact tables: several files, so
    # decode starts with several tasks; the spatial tables are small and
    # each one file (one scan task keeps the short spatial job steadier)
    files = 8 if workload == "flagship" else 1
    for name, table in tables(workload, seed).items():
        write_table(table, tmp / f"{name}.parquet", files)
    (tmp / "_DONE").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out
