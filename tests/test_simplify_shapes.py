"""B7 shape simplification: the SQL Douglas-Peucker kernel of
``cleaning.simplify_shapes`` against a numpy reference loop, on shapes
built to reach every branch of the algorithm."""

from __future__ import annotations

import numpy as np

from postgis_gtfs_importer_spark.operators.cleaning import simplify_shapes

TOL = 1e-5
SCHEMA = (
    "shape_id string, shape_pt_lat double, shape_pt_lon double,"
    " shape_pt_sequence int, shape_dist_traveled double"
)


def dp_reference(pts: np.ndarray, tolerance_deg: float) -> np.ndarray:
    """Iterative Douglas-Peucker over one shape's points (sorted by
    sequence): the keep mask. Farthest point by ``np.argmax`` (first on
    ties); a zero-length chord measures plain distance."""
    n = len(pts)
    keep = np.ones(n, dtype=bool)
    if n <= 2:
        return keep
    keep[:] = False
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = pts[j] - pts[i]
        seg_len = np.hypot(*seg)
        rel = pts[i + 1 : j] - pts[i]
        if seg_len == 0:
            dist = np.hypot(rel[:, 0], rel[:, 1])
        else:
            dist = np.abs(rel[:, 0] * seg[1] - rel[:, 1] * seg[0]) / seg_len
        k = int(np.argmax(dist))
        if dist[k] > tolerance_deg:
            mid = i + 1 + k
            keep[mid] = True
            stack.append((i, mid))
            stack.append((mid, j))
    return keep


def _shapes() -> dict[str, list[tuple[float, float]]]:
    rng = np.random.default_rng(7)
    out: dict[str, list[tuple[float, float]]] = {}
    for s in range(12):  # random walks, steps around the tolerance
        steps = rng.normal(0.0, 2e-5, size=(int(rng.integers(3, 120)), 2))
        out[f"walk{s}"] = [tuple(p) for p in np.cumsum(steps, axis=0) + 52.5]
    for s in range(6):  # near-straight lines, jitter just under/over TOL
        n = int(rng.integers(5, 60))
        t = np.linspace(0.0, 1e-2, n)
        jitter = rng.uniform(-1.5 * TOL, 1.5 * TOL, size=n)
        out[f"line{s}"] = [(13.4 + x, 52.5 + 0.3 * x + e) for x, e in zip(t, jitter)]
    # closed loops: first point == last point (a zero-length chord),
    # with repeated points inside (zero-length segments further down)
    loop = [(0.0, 0.0), (1e-4, 0.0), (1e-4, 0.0), (1e-4, 1e-4), (0.0, 1e-4),
            (0.0, 1e-4), (0.0, 0.0)]
    out["loop"] = loop
    out["loop_dense"] = [
        (5e-4 * np.cos(a), 5e-4 * np.sin(a))
        for a in np.linspace(0.0, 2 * np.pi, 40)
    ] + [(5e-4, 0.0)]
    out["all_same"] = [(1.0, 2.0)] * 5
    out["one"] = [(3.0, 4.0)]
    out["two"] = [(3.0, 4.0), (3.5, 4.5)]
    # equal-distance ties, exact in binary: points 1 and 2 lie 2^-16
    # (> TOL) off the chord; the first must win, after which point 2 is
    # within TOL of the new chord and dropped (picking point 2 first
    # would keep 2 and drop 1)
    u = 2.0**-16
    out["tie"] = [(0.0, 0.0), (u, u), (2 * u, u), (3 * u, 0.0)]
    out["tie_mirror"] = [(0.0, 0.0), (u, -u), (2 * u, u), (3 * u, 0.0)]
    # a zero-length chord with equidistant points: the first wins there
    # too, and the second then lies on the new chord
    out["tie_loop"] = [(0.0, 0.0), (u, 0.0), (-u, 0.0), (0.0, 0.0)]
    return out


def test_sql_douglas_peucker_matches_numpy_reference(spark):
    shapes = _shapes()
    rows = []
    for sid, pts in shapes.items():
        for k, (lat, lon) in enumerate(pts):
            rows.append((sid, float(lat), float(lon), 10 * k, float(k)))
    # gapped sequences, rows in reverse order: the kernel must sort
    rows.reverse()
    df = spark.createDataFrame(rows, SCHEMA)
    out = simplify_shapes({"shapes": df}, TOL)["shapes"]
    assert out.schema.simpleString() == df.schema.simpleString()
    got = {(r.shape_id, r.shape_pt_sequence) for r in out.collect()}

    want = set()
    for sid, pts in shapes.items():
        keep = dp_reference(np.array(pts, dtype=float), TOL)
        want |= {(sid, 10 * k) for k in np.flatnonzero(keep)}
    assert got == want
    # the tolerance bites: points are dropped, and interior points kept
    assert len(want) < len(rows)
    assert len(want) > 2 * len(shapes)
    # the tie shapes took the branch the test is for
    assert {s for s in got if s[0] == "tie"} == {("tie", 0), ("tie", 10), ("tie", 30)}
    assert {s for s in got if s[0] == "tie_loop"} == {
        ("tie_loop", 0), ("tie_loop", 10), ("tie_loop", 30)}
    # rows come back whole: every kept row equals its input row
    by_key = {(r[0], r[3]): r for r in rows}
    for r in out.collect():
        assert tuple(r) == by_key[(r.shape_id, r.shape_pt_sequence)]
