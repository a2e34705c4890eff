"""Seeded benchmark inputs, generated outside the clock.

Everything derives from the ``--seed`` argument, so the same seed gives
byte-identical inputs.  The engine never sees the seed: it receives only
the parquet files written here.

- the interleaved spans corpus, ``corpus.synth_documents_spans(n, seed)``;
- the ``events_geo`` tracks, ``corpus.synth_events_geo(sf, seed)``, with
  each track's start spread over four weeks so that time windows prune;
  index_serve's feed moves every track into one region holding two hot
  clusters, so that query skew shows;
- the XZ2 box table, derived from the events;
- the query stream and kNN query points of index_serve.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from geomesa_spark.sources import corpus

#: input shapes: ``full`` is the sf0.025 corpus shape (50k docs, ~52k
#: events; index_serve ingests the sf0.05 tracks, ~105k events), ``tiny``
#: the sf0.001 shape the self-test runs on
SHAPES = {
    "full": dict(docs=50_000, events_sf="sf0.025", feed_sf="sf0.05", files=16),
    "tiny": dict(docs=2_000, events_sf="sf0.001", feed_sf="sf0.001", files=4),
}

#: share of each table's rows the warm-up runs on
WARM_SHARE = 0.02

#: events start within this many seconds of EPOCH (five Z3 week bins)
SPREAD_S = 28 * 86400
EPOCH = np.datetime64("2026-01-05T00:00:00", "s")

#: index_serve's regional feed: every track starts inside this (lon0,
#: lat0, lon1, lat1) box, which holds two corpus hot clusters; a share of
#: the tracks starts near those clusters, so queries there meet skew
REGION = (0.0, -10.0, 60.0, 30.0)
REGION_HOT = [c for c in corpus.HOT_CLUSTERS
              if REGION[0] <= c[0] <= REGION[2] and REGION[1] <= c[1] <= REGION[3]]
HOT_SHARE = 0.2

#: XZ2 boxes: BOXES of them, around events spread evenly over the table;
#: centres rounded to 0.001° and half sizes ending in 5e-7, so box edges
#: sit 5e-7° from the 1e-6° grid the corpus points lie on — no point lies
#: within the engine's boundary epsilon, and the oracle's closed-interval
#: test is exact
BOXES = 1400
BOX_HALF = (2.0000005, 1.0000005)


def _write_parts(tbl: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    n = tbl.num_rows
    for i in range(files):
        lo, hi = i * n // files, (i + 1) * n // files
        pq.write_table(tbl.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"),
                       row_group_size=16384)


def _region_points(rng, n: int, hot=None) -> np.ndarray:
    """n (lon, lat) points: uniform in REGION, except those marked ``hot``
    (by default a random HOT_SHARE of them), which lie near its hot
    clusters."""
    pts = np.column_stack([rng.uniform(REGION[0], REGION[2], n),
                           rng.uniform(REGION[1], REGION[3], n)])
    if hot is None:
        hot = rng.random(n) < HOT_SHARE
    centers = np.asarray(REGION_HOT)[rng.integers(0, len(REGION_HOT), n)]
    return np.where(hot[:, None], centers + rng.normal(0.0, 1.0, (n, 2)), pts)


def events_table(sf: str, seed: int, regional: bool) -> pa.Table:
    """events_geo tracks with integer ids and start times spread over
    SPREAD_S; ``regional`` moves each track to start in REGION."""
    tbl = corpus.synth_events_geo(sf, seed=seed)
    rng = np.random.default_rng([seed, 7])
    track = np.char.replace(tbl.column("track_id").to_numpy(zero_copy_only=False).astype(str),
                            "trk-", "").astype(np.int64)
    n_tracks = int(track.max()) + 1
    shift_s = rng.integers(0, SPREAD_S, n_tracks)
    ts = tbl.column("ts").to_numpy().astype("datetime64[s]")
    ts = ts - ts.min() + EPOCH + shift_s[track].astype("timedelta64[s]")
    lon = tbl.column("lon").to_numpy()
    lat = tbl.column("lat").to_numpy()
    if regional:
        start = _region_points(rng, n_tracks)
        first = np.searchsorted(track, np.arange(n_tracks))
        lon = np.clip(lon + (start[:, 0] - lon[first])[track], -180.0, 180.0)
        lat = np.clip(lat + (start[:, 1] - lat[first])[track], -85.0, 85.0)
    return pa.table({
        "eid": pa.array(np.arange(tbl.num_rows, dtype=np.int64)),
        "track_id": tbl.column("track_id"),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "lon": pa.array(lon, pa.float64()),
        "lat": pa.array(lat, pa.float64()),
    })


def box_table(ev: pa.Table) -> pa.Table:
    """(box_id, wkt, x0, y0, x1, y1): BOXES axis-aligned boxes around
    events away from the poles and the antimeridian."""
    eid = ev.column("eid").to_numpy()
    lon = ev.column("lon").to_numpy()
    lat = ev.column("lat").to_numpy()
    far = np.nonzero((np.abs(lon) <= 170.0) & (np.abs(lat) <= 80.0))[0]
    keep = far[np.linspace(0, len(far) - 1, min(BOXES, len(far))).astype(np.int64)]
    cx, cy = np.round(lon[keep], 3), np.round(lat[keep], 3)
    hw, hh = BOX_HALF
    # the oracle reads the corners back from the same 7-decimal text
    x0 = np.char.mod("%.7f", cx - hw)
    x1 = np.char.mod("%.7f", cx + hw)
    y0 = np.char.mod("%.7f", cy - hh)
    y1 = np.char.mod("%.7f", cy + hh)

    def cat(*parts):
        out = parts[0]
        for p in parts[1:]:
            out = np.char.add(out, p)
        return out

    wkt = cat("POLYGON((", x0, " ", y0, ", ", x1, " ", y0, ", ", x1, " ", y1, ", ",
              x0, " ", y1, ", ", x0, " ", y0, "))")
    return pa.table({
        "box_id": pa.array(eid[keep]),
        "wkt": pa.array(wkt.astype(object), pa.string()),
        "x0": pa.array(x0.astype(np.float64)), "y0": pa.array(y0.astype(np.float64)),
        "x1": pa.array(x1.astype(np.float64)), "y1": pa.array(y1.astype(np.float64)),
    })


def _spread(rng, n: int, dims: int) -> np.ndarray:
    """n points in [0, 1)^dims, evenly spread: the R_d low-discrepancy
    sequence, shifted by a seeded offset.  Any run of consecutive points
    covers the cube about as evenly as any other, whatever the seed."""
    g = 2.0
    for _ in range(32):  # g ** (dims + 1) == g + 1
        g = (1.0 + g) ** (1.0 / (dims + 1))
    alpha = g ** -np.arange(1.0, dims + 1)
    return (rng.random(dims) + np.outer(np.arange(1, n + 1), alpha)) % 1.0


def query_stream(seed: int, n: int) -> list[dict]:
    """index_serve's pruned queries over REGION, stratified so that any run
    of consecutive queries has the same mix: sizes spread evenly over
    1–10°, windows cycling through 1–7 days, two in five convex polygons
    and the rest bboxes, one in five centred on a hot cluster; the other
    centres and the window starts spread evenly over REGION and the four
    weeks.  The seed places them."""
    rng = np.random.default_rng([seed, 11])
    i = np.arange(n)
    u = _spread(rng, n, 3)
    centres = np.column_stack([REGION[0] + u[:, 0] * (REGION[2] - REGION[0]),
                               REGION[1] + u[:, 1] * (REGION[3] - REGION[1])])
    hot = np.asarray(REGION_HOT)[(i // 5) % len(REGION_HOT)] + rng.normal(0.0, 1.0, (n, 2))
    centres = np.where((i % 5 == 0)[:, None], hot, centres)
    sizes = 1.0 + 9.0 * ((i * 0.6180339887) % 1.0)
    out = []
    for k, ((cx, cy), size) in enumerate(zip(centres, sizes)):
        if k % 5 in (1, 3):
            ang = np.sort(rng.uniform(0.0, 2 * np.pi, int(rng.integers(5, 9))))
            ring = [(cx + size / 2 * np.cos(a), cy + size / 4 * np.sin(a)) for a in ang]
        else:
            ring = [(cx - size / 2, cy - size / 4), (cx + size / 2, cy - size / 4),
                    (cx + size / 2, cy + size / 4), (cx - size / 2, cy + size / 4)]
        coords = ", ".join(f"{x:.3f} {y:.3f}" for x, y in ring + ring[:1])
        start = EPOCH + np.timedelta64(3600 * int(u[k, 2] * (SPREAD_S // 3600)), "s")
        end = start + np.timedelta64(86400 * (1 + (3 * k) % 7), "s")
        out.append(dict(qid=k, wkt=f"POLYGON(({coords}))",
                        t0=str(start).replace("T", " "), t1=str(end).replace("T", " ")))
    return out


def knn_queries(seed: int, call: int) -> list[dict]:
    """Ten kNN points in the fixture shape, placed like the feed's track
    starts, each with k drawn from {1, 5, 10}."""
    rng = np.random.default_rng([seed, 13, call])
    return [dict(query_id=f"Q{i}", lon=float(lon), lat=float(lat), k=int(rng.choice([1, 5, 10])))
            for i, (lon, lat) in enumerate(_region_points(rng, 10))]


def build(workload: str, shape: str, seed: int) -> dict[str, pa.Table]:
    """The workload's input tables, in memory."""
    sh = SHAPES[shape]
    tables = {}
    if workload == "join":
        tables["docs"] = corpus.synth_documents_spans(sh["docs"], seed=seed)
        tables["events"] = events_table(sh["events_sf"], seed, regional=False)
        tables["boxes"] = box_table(tables["events"])
    if workload == "index_serve":
        tables["events"] = events_table(sh["feed_sf"], seed, regional=True)
    return tables


def write(root: str, tables: dict[str, pa.Table], shape: str) -> None:
    """Write each table as a directory of parquet parts under ``root``,
    and the first WARM_SHARE of its rows as ``<name>_warm``: the warm-up
    runs every code path on those, without scanning the whole table."""
    files = SHAPES[shape]["files"]
    parts = {"docs": files, "events": max(1, files // 2), "boxes": 1}
    for name, tbl in tables.items():
        if name == "boxes":
            tbl = tbl.select(["box_id", "wkt"])
        _write_parts(tbl, os.path.join(root, name), parts[name])
        _write_parts(tbl.slice(0, max(1, int(tbl.num_rows * WARM_SHARE))),
                     os.path.join(root, f"{name}_warm"), 1)
