"""Seeded inputs of the benchmark workloads. The same seed gives the same
files. `generate` also describes them for the harness: row counts, in-memory
(Arrow) sizes and the reference answers computed from the raw values.
"""
import contextlib
import math
import os
import runpy
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Scale of each workload's inputs: the TPC-H-style scale factor of the
# relational tables and, for the pipeline, the lake's point count. "tiny" is
# the self-test size.
SIZES = {
    "headline": {"full": {"sf": 0.02}, "tiny": {"sf": 0.002}},
    "pipeline": {"full": {"sf": 0.004, "points": 40_000},
                 "tiny": {"sf": 0.001, "points": 4_000}},
}


def tables(seed, sf, out):
    """The repository's sf generator (scripts/gen_sf.py), seeded."""
    default_rng = np.random.default_rng
    np.random.default_rng = lambda _seed=None: default_rng(seed)
    argv = sys.argv
    sys.argv = ["gen_sf.py", str(sf), out]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            runpy.run_path(os.path.join(ROOT, "scripts", "gen_sf.py"), run_name="__main__")
    finally:
        np.random.default_rng = default_rng
        sys.argv = argv


def geo(seed, n, out):
    """Points in [0, 1000)^2: half in 16 gaussian clusters on a fixed grid,
    half uniform; 40 fixed boxes; probe points for the radius join. The
    layout (cluster centres, boxes, window) is fixed so that every seed
    asks for the same amount of work; the seed moves the points. Returns
    the query parameters and the expected answers."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    half = n // 2
    grid = np.arange(4) * 250.0 + 125.0
    centers = np.array([(cx, cy) for cx in grid for cy in grid])
    which = rng.integers(0, len(centers), half)
    clustered = centers[which] + rng.normal(0, 25, (half, 2))
    uniform = rng.uniform(0, 1000, (n - half, 2))
    xy = np.clip(np.vstack([clustered, uniform]), 0, 999.999)
    xy = xy[rng.permutation(n)]
    pq.write_table(pa.table({
        "id": np.arange(n, dtype=np.int64),
        "x": xy[:, 0], "y": xy[:, 1]}), f"{out}/points.parquet")
    lo = np.array([(60.0 + 110 * i, 40.0 + 120 * j) for i in range(8) for j in range(5)])
    hi = lo + 30.0
    pq.write_table(pa.table({
        "box_id": np.arange(len(lo), dtype=np.int64),
        "xmin": lo[:, 0], "ymin": lo[:, 1], "xmax": hi[:, 0], "ymax": hi[:, 1]}),
        f"{out}/boxes.parquet")
    nq = max(200, n // 40)
    q = rng.uniform(0, 1000, (nq, 2))
    pq.write_table(pa.table({
        "qid": np.arange(nq, dtype=np.int64), "x": q[:, 0], "y": q[:, 1]}),
        f"{out}/probes.parquet")
    window = [330.0, 330.0, 430.0, 430.0]
    radius = 2.0
    ref = lake_reference(xy, np.arange(n, dtype=np.int64), lo, hi, q, window, radius)
    ref.update(window_box=window, radius=radius, files=8)
    return ref


def lake_reference(xy, ids, box_lo, box_hi, q, window, radius):
    """Expected lake answers from the raw coordinates: the written bbox,
    the window's (count, id sum), points strictly inside each box, and the
    (count, sum of qid*1000003+id) of point-probe pairs within the radius,
    tested as sqrt(dx*dx + dy*dy) <= r."""
    x, y = xy[:, 0], xy[:, 1]
    wx0, wy0, wx1, wy1 = window
    win = (x >= wx0) & (x <= wx1) & (y >= wy0) & (y <= wy1)
    boxes = []
    for b in range(len(box_lo)):
        inside = ((x > box_lo[b, 0]) & (x < box_hi[b, 0]) &
                  (y > box_lo[b, 1]) & (y < box_hi[b, 1]))
        if inside.any():
            boxes.append([b, int(inside.sum())])
    pairs = key = 0
    for qid in range(len(q)):
        dx = x - q[qid, 0]
        dy = y - q[qid, 1]
        hit = np.sqrt(dx * dx + dy * dy) <= radius
        pairs += int(hit.sum())
        key += int(hit.sum()) * qid * 1000003 + int(ids[hit].sum())
    return {"bbox": [float(x.min()), float(y.min()), float(x.max()), float(y.max())],
            "window": [int(win.sum()), int(ids[win].sum())],
            "boxes": boxes, "dwithin": [pairs, key]}


def stream_files(data, out, parts=2):
    """The events table cut into `parts` files of (event_id, user_id,
    event_type, value): the pipeline's stream source, one file per
    micro-batch. Returns the expected final state: per (user_id % 100,
    event_type) the row count and the exact cents sum."""
    os.makedirs(out, exist_ok=True)
    t = pq.read_table(f"{data}/events.parquet",
                      columns=["event_id", "user_id", "event_type", "value"])
    step = -(-t.num_rows // parts)
    for i in range(parts):
        pq.write_table(t.slice(i * step, step), f"{out}/part{i}.parquet")
    groups = {}
    for u, e, v in zip(t["user_id"].to_pylist(), t["event_type"].to_pylist(),
                       t["value"].to_pylist()):
        g = groups.setdefault((u % 100, e), [0, 0])
        g[0] += 1
        g[1] += math.floor(v * 100 + 0.5)
    return [[u, e, n, c] for (u, e), (n, c) in sorted(groups.items())]


def generate(workload, seed, size, out):
    """Write the workload's inputs under `out` and describe them: rows and
    bytes of all generated user data, the bytes bytes_stored_per_user_byte
    divides by (the relational tables for headline, the lake's points for
    the pipeline), per-table row counts and reference answers."""
    os.makedirs(out, exist_ok=True)
    scale = SIZES[workload][size]
    tables(seed, scale["sf"], out)
    info = {}
    if workload == "pipeline":
        info["lake"] = geo(seed, scale["points"], out)
        info["stream"] = stream_files(out, os.path.join(out, "stream"))
    rows = nbytes = base = 0
    table_rows = {}
    for f in sorted(os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(out, f))
        table_rows[f[:-len(".parquet")]] = t.num_rows
        rows += t.num_rows
        nbytes += t.nbytes
        if workload == "headline" or f == "points.parquet":
            base += t.nbytes
    info.update(rows=rows, bytes=nbytes, stored_base_bytes=base, table_rows=table_rows)
    return info
