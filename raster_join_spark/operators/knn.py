"""kNN via iterative cell-ring expansion (reference J6 generalized).

The reference ships the single-ring probe primitive
(CPUJoin/GridIndexF.cpp:177-198: scan the cell ring around the query,
ellipse-filter) but never wires it to a CLI; the north_rule asks for the
full operator: grow the ring until the k-th candidate's distance is
certified complete.

Spark plan per round r:
  1. driver enumerates ONLY the new ANNULUS of cells (Chebyshev radius
     r_prev+1 .. r) per pending query — never the full disk again (the
     round-3 worst case: re-enumerating the whole disk grows O(r^2) per
     round and explodes on fine grids). The literal table stays tiny and
     is broadcast.
  2. broadcast hash join against the points on cell_id — the big side
     never shuffles
  3. candidates are reduced to per-query top-k IN THE PLAN
     (groupBy(q_id).agg(slice(array_sort(collect_list(struct(dist2, id))),
     1, k)) — map-side combined, no window exchange), so the per-round
     collect is exactly |pending| rows of k structs, INDEPENDENT of
     point density; the driver then MERGES each round's annulus top-k
     into the per-query running top-k (annuli are disjoint by cell, so
     the merge never double-counts a point). Certification: a query is
     done when the merged kth_dist <= (r * cell_min)^2 — any point in an
     unvisited cell is at least r*cell_min away, so its top-k is exact.
  4. EXHAUSTIVE FALLBACK: when the next annulus would need more than
     ``literal_cap`` literal cells (sparse data on a fine grid), or the
     annuli hit max_radius with queries still uncertified, the remaining
     queries are resolved by ONE job that broadcasts the pending query
     coords against ALL (in-grid) points — no cell table at all; its
     per-query top-k is globally exact by construction and REPLACES the
     merged state (a full scan is the right plan exactly when the disk
     would have covered most of the grid anyway).
  5. certified rows accumulate on the driver; the final result is a
     literal DataFrame (inherently q x k rows — never big), so no plan
     is ever re-executed after its round ran.

Distances are squared Euclidean with the same op order as the SQL oracle:
(x-qx)*(x-qx) + (y-qy)*(y-qy) — exact integers in microdegree space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from raster_join_spark.geo.grid import GridSpec


def _round_topk(cand: DataFrame, id_col: str, k: int) -> DataFrame:
    """Reduce raw (q_id, id, dist2) candidates to per-query top-k inside
    the plan: one row per q_id holding a k-slice of the (dist2, id)-sorted
    struct array. collect_list partially aggregates map-side, so the
    single hash exchange carries per-task candidate lists keyed by q_id
    (|queries| keys), and the subsequent driver collect is O(|q| * k)
    rows regardless of point density — the scale contract the 100x rule
    demands (no raw-candidate collect, no window exchange)."""
    return cand.groupBy("q_id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(F.struct(F.col("dist2"), F.col(id_col).alias("_id")))
            ),
            1,
            k,
        ).alias("top")
    )


def knn_join(
    spark: SparkSession,
    points: DataFrame,
    grid: GridSpec,
    queries: list[tuple[int, float, float]],
    k: int,
    x: str = "x",
    y: str = "y",
    id_col: str = "event_id",
    max_radius: int | None = None,
    n_total: int | None = None,
    literal_cap: int = 65_536,
    stats: dict | None = None,
) -> DataFrame:
    """Exact k nearest points per query point. Returns
    (q_id, {id_col}, rank, dist2) with rank 1..k ordered by
    (dist2, id) — the id tiebreak keeps results deterministic.

    ``n_total`` (row-count hint) sizes the initial probe disk from point
    density; when omitted it is computed with one column-pruned count
    job — a density-blind fixed radius would make the probe-disk join
    output grow linearly with density (pass an explicit value to skip
    the count when the caller already knows it). Certification never
    depends on the starting radius, only round count does.

    ``literal_cap`` bounds the driver-built annulus cell table: when the
    next annulus would exceed it (sparse data / fine grid), remaining
    queries switch to the exhaustive broadcast-against-all-points plan —
    still exact, and no literal DataFrame bigger than the cap is ever
    built regardless of grid resolution. ``max_radius`` likewise only
    bounds annulus expansion, not correctness. ``stats`` (optional dict)
    receives {"rounds", "max_literal_rows", "exhaustive"} — used by the
    scale-regression tests.
    """
    if max_radius is None:
        max_radius = max(grid.nx, grid.ny)
    cell_min = min(grid.cell_w, grid.cell_h)

    # Persist the NARROW projection and derive every probe input from
    # the cache (r8). Two reasons, both measured at sf1.0 (1M rows,
    # single-row-group source):
    # (1) Catalyst inlines an expensive source projection into every
    #     downstream expression that references it (the pushed-down
    #     cell filter, the join key, dist2) and the resulting giant
    #     expression tree falls out of whole-stage codegen — one probe
    #     round cost 19-24s uncached vs ~0.3s over the cache. The
    #     InMemoryRelation is an optimizer barrier: the projection is
    #     evaluated exactly once per row at cache build (~0.5-2s), and
    #     all cell/distance arithmetic runs over cached doubles.
    # (2) multi-round queries and the exhaustive fallback re-scan the
    #     same rows; the cache bounds the source cost at one pass.
    # The probe side carries NO cell_id IS NOT NULL filter — an INNER
    # join on cell_id never matches a null key, so the filter is
    # redundant there; only the exhaustive fallback applies it (the
    # in-grid restriction is part of that plan's semantics).
    base = points.select(id_col, x, y).persist()
    pts = base.withColumn("cell_id", grid.cell_id_col(F.col(x), F.col(y)))
    if stats is None:
        stats = {}
    stats.update({"rounds": 0, "max_literal_rows": 0, "exhaustive": False})
    try:
        # initial radius: size the first probe disk for ~64k expected
        # candidates — the in-plan top-k reduction bounds the collect
        # either way, but an over-wide disk still pays join + partial
        # aggregation over every probed point, while every extra driver
        # round costs a full scheduling barrier (~0.3-0.5 s)
        if n_total is None:
            n_total = points.count()
        if n_total > 0:
            import math as _math

            density = n_total / max(grid.n_cells, 1)
            r_init = max(0, int(_math.ceil(_math.sqrt((64.0 * k) / density) / 2.0)) - 1)
        else:
            r_init = 4
        r_init = min(r_init, max(grid.nx, grid.ny) // 4)
        qxp = {q: int((qx - grid.x0) // grid.cell_w) for q, qx, _ in queries}
        qyp = {q: int((qy - grid.y0) // grid.cell_h) for q, _, qy in queries}
        qpos = {q: (qx, qy) for q, qx, qy in queries}
        pending = {q for q, _, _ in queries}
        # merged running top-k per query across rounds: (dist2, id)
        # tuples, truncated to k — annuli are cell-disjoint, so simple
        # list-merge never sees the same point twice
        best: dict[int, list[tuple[float, object]]] = {q: [] for q in pending}

        def _certify(q: int, r_probed: int) -> bool:
            rs = best[q]
            return len(rs) >= k and rs[k - 1][0] <= (r_probed * cell_min) ** 2

        def _emit(q: int) -> None:
            final_rows.extend(
                (q, pid, rank + 1, d2) for rank, (d2, pid) in enumerate(best[q][:k])
            )

        r_prev = -1  # all cells with Chebyshev distance <= r_prev probed
        r = r_init
        next_step = 1
        final_rows: list[tuple] = []
        id_type = pts.schema[id_col].dataType
        q_schema = T.StructType(
            [
                T.StructField("q_id", T.LongType(), False),
                T.StructField("cell_id", T.LongType(), False),
                T.StructField("qx", T.DoubleType(), False),
                T.StructField("qy", T.DoubleType(), False),
            ]
        )
        dist2_col = (
            (F.col(x) - F.col("qx")) * (F.col(x) - F.col("qx"))
            + (F.col(y) - F.col("qy")) * (F.col(y) - F.col("qy"))
        ).alias("dist2")
        while pending:
            r = min(r, max_radius)
            # worst-case (unclamped) literal size of the next annulus;
            # conservative near grid edges, which only switches to the
            # exhaustive plan a round early
            prev_cells = (2 * r_prev + 1) ** 2 if r_prev >= 0 else 0
            est_rows = len(pending) * ((2 * r + 1) ** 2 - prev_cells)
            if r_prev >= max_radius or est_rows > literal_cap:
                # EXHAUSTIVE: broadcast pending query coords against all
                # in-grid points — no cell table; globally exact, so it
                # REPLACES the merged state for these queries
                stats["exhaustive"] = True
                stats["rounds"] += 1
                qlit = spark.createDataFrame(
                    [(q, -1, qpos[q][0], qpos[q][1]) for q in sorted(pending)],
                    q_schema,
                ).drop("cell_id")
                cand = (
                    base.withColumn(
                        "cell_id", grid.cell_id_col(F.col(x), F.col(y))
                    )
                    .filter(F.col("cell_id").isNotNull())
                    .crossJoin(F.broadcast(qlit))
                    .select("q_id", F.col(id_col), dist2_col)
                )
                by_q = {
                    row["q_id"]: row["top"]
                    for row in _round_topk(cand, id_col, k).collect()
                }
                for q in list(pending):
                    best[q] = [(t["dist2"], t["_id"]) for t in by_q.get(q, [])]
                    _emit(q)
                    pending.discard(q)
                break
            stats["rounds"] += 1
            # literal table: ONLY the new annulus r_prev+1 .. r per
            # pending query, with query coords inlined — one broadcast
            # join resolves both the probe and the distance inputs
            rows = []
            for q in pending:
                qx_, qy_ = qpos[q]
                for rr in range(r_prev + 1, r + 1):
                    for c in grid.ring_cells(qxp[q], qyp[q], rr):
                        rows.append((q, c, qx_, qy_))
            stats["max_literal_rows"] = max(stats["max_literal_rows"], len(rows))
            if rows:
                cand_cells = spark.createDataFrame(rows, q_schema)
                cand = pts.join(F.broadcast(cand_cells), "cell_id", "inner").select(
                    "q_id", F.col(id_col), dist2_col
                )
                # ONE job per round: the plan reduces candidates to
                # per-query top-k (struct-array sort + slice, map-side
                # combined), so the collect is exactly |pending| rows of
                # k structs each — O(|queries| * k) driver bytes at ANY
                # point density; merge + certification stay driver-side
                # and nothing is ever re-executed
                by_q = {
                    row["q_id"]: row["top"]
                    for row in _round_topk(cand, id_col, k).collect()
                }
                for q in list(pending):
                    new = by_q.get(q)
                    if new:
                        best[q] = sorted(
                            best[q] + [(t["dist2"], t["_id"]) for t in new]
                        )[:k]
                    if _certify(q, r):
                        _emit(q)
                        pending.discard(q)
            else:
                # annulus fully outside the grid for every pending query
                for q in list(pending):
                    if _certify(q, r):
                        _emit(q)
                        pending.discard(q)
            # exponential ring growth (4x: rounds are the expensive
            # unit, candidates are cheap): sparse regions certify in
            # O(log r) driver rounds instead of O(r); overshoot is safe
            # because the exhaustive fallback — not a final giant-disk
            # enumeration — now closes out any stragglers
            r_prev = r
            step = max(next_step, r)  # at least double the radius
            r = r + step
            next_step = min(next_step * 4, max(grid.nx, grid.ny) // 4 + 1)
        assert not pending, f"uncertified kNN queries left: {sorted(pending)}"
        assert final_rows, "no kNN results produced"
        out_schema = T.StructType(
            [
                T.StructField("q_id", T.LongType(), False),
                T.StructField(id_col, id_type, False),
                T.StructField("rank", T.IntegerType(), False),
                T.StructField("dist2", T.DoubleType(), False),
            ]
        )
        return spark.createDataFrame(final_rows, out_schema)
    finally:
        base.unpersist()


def _block_topk_by_cell(
    probes: DataFrame,
    pts: DataFrame,
    grid: GridSpec,
    k: int,
    x: str,
    y: str,
    id_col: str,
    n_groups: int | None = None,
    max_pts_per_block: int = 2048,
    cell_counts: DataFrame | None = None,
    bounded_cells: bool = False,
) -> DataFrame:
    """Bucket-blocked kNN: cogroup (q_id, qx, qy, cell_id) probes with
    (cell_id, id, x, y) points by a HASH BUCKET of cells
    (``cell_id % n_groups``) and compute each probing query's top-k
    within the bucket vectorized in numpy — the Arrow transfer is
    O(|probes| + |points|) rows and the output is <= k rows per
    (query, bucket), so hot-cell skew never materializes the quadratic
    (query, candidate) pair set in the JVM (it runs as a chunked
    distance matrix inside the block instead).

    The bucket count balances two costs. The pandas cogroup runner
    pays ~0.5-1ms of fixed overhead per GROUP invocation, so per-cell
    grouping puts |probed cells| Python calls on the critical path
    (measured at sf0.1: 22k cells -> 14-20s wall for a ~3.7M-pair
    kernel that computes in well under a second). Few HUGE groups
    lose parallelism and (for spatially contiguous tiles, the round-5
    design) concentrate the hot REGION's whole pair volume into one
    serialized call. Hash buckets get both: group count capped near
    ~512-32k, while neighboring hot cells scatter across buckets, so
    the skewed region's work spreads over the executor pool. A single
    pathological cell still lands in one bucket, but its work is one
    vectorized distance block, not per-row Python. Group SIZE stays
    bounded by cells-per-bucket x per-cell occupancy — the auto rule
    keeps <= ~64 cells per bucket until the 32768-group cap engages.

    Distance arithmetic is the identical IEEE double sequence as the
    SQL oracle ((x-qx)^2 + (y-qy)^2, exact integers in microdegree
    space); the (dist2, id) order is total (ids unique), and both the
    per-cell selection and the per-bucket reduce rank by it, so
    bucket-partial top-k then JVM array_sort merge is bit-exact vs
    the flat join form.

    Hot-cell SALTING: a single cell holding tens of thousands of points
    receives every nearby query's probes, and its quadratic distance
    block would serialize in one task. Cells with more than
    ``max_pts_per_block`` points split their POINT rows into
    ceil(n/max_pts) deterministic hash slices; probes touching those
    cells replicate to every slice. Per-slice top-k then the existing
    per-query merge is exact (top-k is distributive over any point
    partition, ids break ties totally), so results are bit-identical —
    the hot cell's work just spreads over the executor pool.

    applyInPandas deliberately: the applyInArrow cogroup runner
    measured ~2x SLOWER end-to-end on Spark 4.1.2 (identical numpy
    kernel) — the numeric arrow->pandas conversion is not the
    bottleneck."""
    import numpy as np
    import pandas as pd

    if n_groups is None:
        n_groups = int(min(grid.n_cells, max(512, grid.n_cells // 64), 32768))
    n_groups = max(1, min(n_groups, grid.n_cells))

    # hot-cell split table: (cell_id, _nsplit) for cells over budget.
    # Computed on the (already probe-pruned) point side — a map-side-
    # combined count, broadcast to both sides.
    # ``cell_counts`` lets a caller with an already-materialized
    # (cell_id, _n) frame (knn_join_bulk persists one for radius
    # seeding) skip re-aggregating the point side every invocation; a
    # superset of the probed cells is fine — unprobed hot cells simply
    # never appear in either cogroup side.
    if bounded_cells:
        # caller certifies (from MEASURED per-cell counts, not the
        # refinement heuristic) that no cell exceeds max_pts_per_block:
        # the whole hot-split apparatus — broadcast build of the hot
        # table, a left join + salt column on each cogroup side, the
        # probe-replication explode, the 2^20 key fold — would be
        # per-row work spent proving "not hot" for every row. Skip it;
        # plain cell ids key the buckets. Results are identical by the
        # salting exactness argument with zero split cells (r8;
        # pinned by tests/test_knn.py::test_bulk_bounded_cells_flag).
        pts = pts.select("cell_id", id_col, x, y)
        probes = probes.select("cell_id", "q_id", "qx", "qy")
    else:
        if cell_counts is None:
            cell_counts = pts.groupBy("cell_id").agg(
                F.count(F.lit(1)).alias("_n")
            )
        hot = cell_counts.filter(F.col("_n") > max_pts_per_block).select(
            "cell_id",
            F.ceil(F.col("_n") / F.lit(max_pts_per_block))
            .cast("int")
            .alias("_nsplit"),
        )
        pts = pts.join(F.broadcast(hot), "cell_id", "left").withColumn(
            "_salt",
            F.when(F.col("_nsplit").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64(F.col(id_col)), F.col("_nsplit")).cast("int")
            ),
        )
        probes = probes.join(F.broadcast(hot), "cell_id", "left").withColumn(
            "_salt",
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("_nsplit"), F.lit(1)) - 1)
            ),
        )
        # fold the salt into the segmentation key so a probe replica only
        # ever meets ITS OWN point slice (two slices of one cell colliding
        # into one group would hand each replica the full point set and
        # duplicate candidates in the merge). 2^20 slices x 2048 pts bounds
        # a single cell at ~2G points before shift collision — far beyond
        # any sane grid; cell ids stay within int64 up to ~2^43 cells.
        _ck = (F.col("cell_id") * F.lit(1 << 20) + F.col("_salt")).alias("cell_id")
        pts = pts.select(_ck, id_col, x, y)
        probes = probes.select(_ck, "q_id", "qx", "qy")

    q_t = probes.schema["q_id"].dataType
    id_t = pts.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("q_id", q_t, False),
            T.StructField(id_col, id_t, False),
            T.StructField("dist2", T.DoubleType(), False),
        ]
    )
    # dtypes must FOLLOW out_schema (q_id/id types are caller-defined):
    # a hardcoded int64 empty frame against e.g. a string id column
    # fails Arrow conversion exactly on empty cogroup sides
    _pd_dtype = {
        "long": "int64", "integer": "int32", "short": "int16",
        "double": "float64", "float": "float32", "string": "object",
    }
    empty = pd.DataFrame(
        {
            f.name: pd.Series([], dtype=_pd_dtype.get(f.dataType.typeName(), "object"))
            for f in out_schema.fields
        }
    )

    def _cell_topk(qx, qy, qid, px, py, pid, acc):
        """Exact per-(probe-row) top-k within one cell, fully
        array-level: kth-smallest via partition, candidate mask (kth
        ties included), one (row, dist2, id) lexsort of the selected
        pairs, strided gather of the first k per contiguous row
        segment."""
        npts = len(px)
        kk = min(k, npts)
        chunk = max(1, 4_000_000 // npts)
        for s in range(0, len(qx), chunk):
            dx = qx[s : s + chunk, None] - px[None, :]
            d2 = dx * dx
            dy = qy[s : s + chunk, None] - py[None, :]
            d2 += dy * dy
            kth = np.partition(d2, kk - 1, axis=1)[:, kk - 1]
            rows, cols = np.nonzero(d2 <= kth[:, None])
            dsel = d2[rows, cols]
            order = np.lexsort((pid[cols], dsel, rows))
            rows, cols, dsel = rows[order], cols[order], dsel[order]
            counts = np.bincount(rows, minlength=d2.shape[0])
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            take = (starts[:, None] + np.arange(kk)[None, :]).ravel()
            acc[0].append(np.repeat(qid[s : s + chunk], kk))
            acc[1].append(pid[cols[take]])
            acc[2].append(dsel[take])

    def fn_single(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # tile == 1: the group IS one cell — no segmentation, no
        # per-tile reduce (each probe row already yields exactly one
        # <= k selection). This is the hot path on ordinary grids.
        if len(left) == 0 or len(right) == 0:
            return empty
        acc: tuple = ([], [], [])
        _cell_topk(
            left["qx"].to_numpy(np.float64),
            left["qy"].to_numpy(np.float64),
            left["q_id"].to_numpy(),
            right[x].to_numpy(np.float64),
            right[y].to_numpy(np.float64),
            right[id_col].to_numpy(),
            acc,
        )
        return pd.DataFrame(
            {
                "q_id": np.concatenate(acc[0]),
                id_col: np.concatenate(acc[1]),
                "dist2": np.concatenate(acc[2]),
            }
        )

    def fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return empty
        lcell = left["cell_id"].to_numpy()
        lo = np.argsort(lcell, kind="stable")
        lcell = lcell[lo]
        qx = left["qx"].to_numpy(np.float64)[lo]
        qy = left["qy"].to_numpy(np.float64)[lo]
        qid = left["q_id"].to_numpy()[lo]
        rcell = right["cell_id"].to_numpy()
        ro = np.argsort(rcell, kind="stable")
        rcell = rcell[ro]
        px = right[x].to_numpy(np.float64)[ro]
        py = right[y].to_numpy(np.float64)[ro]
        pid = right[id_col].to_numpy()[ro]
        lcells, lstarts = np.unique(lcell, return_index=True)
        rcells, rstarts = np.unique(rcell, return_index=True)
        lends = np.append(lstarts[1:], len(lcell))
        rends = np.append(rstarts[1:], len(rcell))
        common, li, ri = np.intersect1d(
            lcells, rcells, assume_unique=True, return_indices=True
        )
        if len(common) == 0:
            return empty
        acc: tuple = ([], [], [])
        for j in range(len(common)):
            ls, le = lstarts[li[j]], lends[li[j]]
            rs, re = rstarts[ri[j]], rends[ri[j]]
            _cell_topk(
                qx[ls:le], qy[ls:le], qid[ls:le],
                px[rs:re], py[rs:re], pid[rs:re], acc,
            )
        aq = np.concatenate(acc[0])
        ai = np.concatenate(acc[1])
        ad = np.concatenate(acc[2])
        # reduce to per-query top-k WITHIN this tile before anything
        # reaches the JVM: (query, dist2, id) lexsort, then the first
        # min(k, segment) of each contiguous query segment
        order = np.lexsort((ai, ad, aq))
        aq, ai, ad = aq[order], ai[order], ad[order]
        _, qstarts = np.unique(aq, return_index=True)
        qends = np.append(qstarts[1:], len(aq))
        lens = np.minimum(qends - qstarts, k)
        flat = np.arange(lens.sum()) - np.repeat(
            np.cumsum(lens) - lens, lens
        )
        take = np.repeat(qstarts, lens) + flat
        return pd.DataFrame(
            {"q_id": aq[take], id_col: ai[take], "dist2": ad[take]}
        )

    if n_groups >= grid.n_cells:
        # bucket == (cell, slice): no segmentation, no per-bucket
        # reduce (each probe row already yields exactly one <= k
        # selection per slice; the caller's merge is distributive)
        return probes.groupBy("cell_id").cogroup(
            pts.groupBy("cell_id")
        ).applyInPandas(fn_single, out_schema)
    # xxhash64, not plain modulo: the salted key is cell_id << 20, and
    # a power-of-two-friendly n_groups would collapse every salt-0 row
    # into a handful of buckets under `key % n_groups`
    bucket = F.pmod(F.xxhash64(F.col("cell_id")), F.lit(n_groups)).alias(
        "bucket_id"
    )
    pts_sel = pts.select(bucket, "cell_id", id_col, x, y)
    probe_sel = probes.select(bucket, "cell_id", "q_id", "qx", "qy")
    return probe_sel.groupBy("bucket_id").cogroup(
        pts_sel.groupBy("bucket_id")
    ).applyInPandas(fn, out_schema)


def knn_join_bulk(
    spark: SparkSession,
    points: DataFrame,
    grid: GridSpec,
    queries: DataFrame,
    k: int,
    x: str = "x",
    y: str = "y",
    id_col: str = "event_id",
    n_total: int | None = None,
    max_cells_per_query: int = 4096,
    max_rounds: int = 6,
    max_pts_per_cell: int = 1024,
    stats: dict | None = None,
) -> DataFrame:
    """Set-oriented exact kNN: ``queries`` is a DataFrame (q_id, qx, qy)
    — the training-pipeline shape (kNN of a whole table of query points;
    the reference's getRegionPt probe, CPUJoin/GridIndexF.cpp:177-198,
    issued per point). Returns a DISTRIBUTED DataFrame
    (q_id, {id_col}, rank, dist2), rank 1..k by (dist2, id).

    Unlike :func:`knn_join` (driver list, driver-side merge), every
    per-query structure here is a DataFrame op, so the query side scales
    to millions of rows:

    round r: each pending query explodes its own probe disk JVM-side
    (sequence(-r..r) x sequence(-r..r) -> cell ids; NO driver-built cell
    table), the disk table broadcast-joins the points on cell_id, and
    per-query top-k reduces in-plan (map-side-combined collect_list ->
    array_sort -> slice — no Window exchange). A query CERTIFIES in-plan
    when its kth distance <= (r*cell_min)^2; certified rows exit to the
    result union, the rest re-probe at 4x radius (re-probing the full
    disk, not an annulus, keeps rounds stateless — total probe work is
    bounded by ~4/3 of the final disk).

    ``r`` is PER QUERY, seeded from the query's own-cell occupancy (one
    map-side-combined per-cell count, left-joined to the query table),
    floored by the global density: under the hot-box skew the fixtures
    and real city data share, a global-density radius makes every
    hot-region query probe the whole hot region (measured at sf0.1:
    r=4 for all -> 810k probe rows, ~200M pairs against two ~9.4k-point
    hot cells, 2.5M merge rows). Local seeding sends dense-cell queries
    out at r=1 and only sparse-region queries wide. Radii cap at the
    ``max_cells_per_query`` disk bound; when every pending query is at
    the cap (its top-k can no longer change, so re-probing is pure
    waste) or after ``max_rounds``, the remainder resolves by ONE
    broadcast nested-loop pass of pending queries against all points —
    exact by construction, and the right plan exactly when disks would
    have covered most of the grid.

    The per-round driver footprint is ONE action per round (a
    count + min-pending-radius aggregate for loop control); results
    never land on the driver.

    Execution contract (round-4 verdict item 2): each round's probe
    join runs EXACTLY ONCE. The per-round ``topk`` frame is persisted and
    materialized by the loop-control count; both the certified and the
    pending branch read that cache. The returned union is persisted and
    eagerly materialized (bounded at O(q x k) small rows) before every
    round cache and the point cache are released — so consuming the
    result does NOT re-execute any probe join. Callers may ``unpersist``
    the returned frame when done with it.
    """
    if stats is None:
        stats = {}
    import time as _time

    # per-phase wall timings (driver-action boundaries) — the evidence
    # stream for the cold-sample attribution in BENCH/knn_bulk_cold.md:
    # setup_sec covers the source-projection persist build; occupancy_sec
    # the per-cell counts + refinement decision; round_sec each probe
    # round's single action; finalize_sec the result materialization.
    phase: dict = {"round_sec": []}
    stats.update({"rounds": 0, "exhaustive": False, "phase_sec": phase})
    _t0 = _time.perf_counter()
    # AQE's partition coalescing merges shuffle partitions by BYTE size;
    # the cogroup kernel's cost is CPU per row, not bytes, so the tiny
    # probe/point shuffles (a few MB) collapse into ONE task and the
    # whole python kernel serializes (measured at sf0.1: a 10.9s
    # single-task stage; 32-way the same work is sub-second). Disable
    # coalescing for the duration of this operator's actions — every
    # frame this function materializes is built and persisted inside it.
    _coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    _coalesce_prev = spark.conf.get(_coalesce_key, "true")
    spark.conf.set(_coalesce_key, "false")
    try:
        # ONE materialization of the source: the operator re-reads the
        # point set several times (occupancy counts, per-round probe
        # prunes, the exhaustive fallback), and the source may be an
        # expensive view (the fixture's regex-extraction CTE costs more
        # than every kernel below combined). Cache the PROJECTED three
        # columns — far smaller than the source table — and derive every
        # grid assignment (including the refined grid) from the cache.
        # (r8) the .rdd.getNumPartitions() under-parallelism guard that
        # used to live here cost ~0.5-1s of pure driver time per call
        # (full physical planning of the source just to read a number).
        # points_df does NOT repartition (its single-row-group scan stays
        # one task; sources/pages.py records why the repartition was
        # reverted): this persist is the barrier that keeps the regex
        # synthesis out of every probe predicate below.
        pts_base = points.select(id_col, x, y).persist()

        def _assign(g: GridSpec) -> DataFrame:
            return pts_base.withColumn(
                "cell_id", g.cell_id_col(F.col(x), F.col(y))
            ).filter(F.col("cell_id").isNotNull())

        pts = _assign(grid)
        if n_total is None:
            n_total = pts_base.count()
        phase["setup_sec"] = round(_time.perf_counter() - _t0, 3)
        _t0 = _time.perf_counter()
        import math as _math

        counts = None
        counts16 = None
        if n_total > 0:
            # PROBE-GRID REFINEMENT: the caller's grid is a storage
            # layout, not an obligation — kNN results are grid-invariant
            # (the grid only drives candidate enumeration; certification
            # is a distance bound). A hot cell forces quadratic work on
            # every nearby query (fixture sf0.1: two ~9.4k-point cells
            # attract ~1/3 of all probes -> 300M distance pairs), and
            # the blow-up grows with SF. Refine until the densest cell
            # holds <= max_pts_per_cell points, so per-cell blocks stay
            # bounded no matter how skewed the data is.
            #
            # (r8) ONE full aggregation instead of two, for LARGE
            # inputs: per-cell counts are computed once at the FINEST
            # candidate refinement (f0=16) and persisted; the base-grid
            # max (the refinement decision) and the chosen grid's counts
            # both derive from it by in-plan rollups over <= |occupied
            # fine cells| rows — exact (a parent's count is the sum of
            # its children's). Measured at sf1.0: occupancy jobs shed
            # ~0.5-1s AND the pow2-snapped finer refinement (16 vs 10)
            # shrinks the kernel's distance blocks (round 4.6-7s ->
            # 3.4-3.8s). Below the size gate the fine-grid aggregation's
            # extra key space costs more than the saved second scan
            # (sf0.1 measured +0.7-1s), so small inputs keep the
            # two-aggregation path. The refine factor under the fused
            # path is snapped to the next power of two so it divides f0
            # (a stronger refinement than the ceil(sqrt) value is
            # always safe — results are grid-invariant).
            fuse_counts = n_total >= 400_000
            if fuse_counts:
                f0 = 16
                grid16 = GridSpec(
                    grid.x0,
                    grid.y0,
                    grid.cell_w / f0,
                    grid.cell_h / f0,
                    grid.nx * f0,
                    grid.ny * f0,
                )
                counts16 = (
                    _assign(grid16)
                    .groupBy("cell_id")
                    .agg(F.count(F.lit(1)).alias("_n"))
                    .persist()
                )
                nx16 = grid16.nx
                base_nx = grid.nx  # captured BEFORE grid is rebound

                def _roll(fto: int) -> DataFrame:
                    # rollup fine counts to the fto-grid (fto divides
                    # f0); cx16/cy16 < 2^26, exact under float64 floor
                    s = f0 // fto
                    cx16 = F.col("cell_id") % nx16
                    cy16 = F.floor(F.col("cell_id") / F.lit(nx16))
                    cell_f = (
                        F.floor(cx16 / F.lit(s))
                        + F.lit(base_nx * fto) * F.floor(cy16 / F.lit(s))
                    ).cast("long")
                    return counts16.groupBy(cell_f.alias("cell_id")).agg(
                        F.sum("_n").alias("_n")
                    )

                # ONE action: base-grid max (materializes counts16 too)
                mx = _roll(1).agg(F.max("_n")).collect()[0][0] or 0
                if mx > max_pts_per_cell:
                    f = min(
                        16,
                        int(_math.ceil(_math.sqrt(mx / max_pts_per_cell))),
                    )
                    f = 1 << (f - 1).bit_length()  # next pow2 | f0
                    grid = GridSpec(
                        grid.x0,
                        grid.y0,
                        grid.cell_w / f,
                        grid.cell_h / f,
                        grid.nx * f,
                        grid.ny * f,
                    )
                    stats["refine_factor"] = f
                    pts = _assign(grid)
                    counts = counts16 if f == f0 else _roll(f)
                else:
                    counts = _roll(1)
            else:
                counts = pts.groupBy("cell_id").agg(
                    F.count(F.lit(1)).alias("_n")
                )
                mx = counts.agg(F.max("_n")).collect()[0][0] or 0
                if mx > max_pts_per_cell:
                    f = min(
                        16,
                        int(_math.ceil(_math.sqrt(mx / max_pts_per_cell))),
                    )
                    grid = GridSpec(
                        grid.x0,
                        grid.y0,
                        grid.cell_w / f,
                        grid.cell_h / f,
                        grid.nx * f,
                        grid.ny * f,
                    )
                    stats["refine_factor"] = f
                    pts = _assign(grid)
                    counts = pts.groupBy("cell_id").agg(
                        F.count(F.lit(1)).alias("_n")
                    )
        mx_eff = mx if counts is not None else None
        if counts is not None:
            # reused every round (occupied-cell probe prune) and by the
            # r0 seeding join; bounded by occupied cells
            counts = counts.persist()
            if "refine_factor" in stats:
                # the MEASURED densest-cell occupancy on the refined
                # grid (refinement targets <= max_pts_per_cell but is a
                # heuristic — a base cell's points could all land in one
                # child). The agg doubles as the counts-cache
                # materialization, so it costs one small job, and it
                # lets every round skip the hot-split machinery when the
                # bound holds (bounded_cells below).
                mx_eff = counts.agg(F.max("_n")).collect()[0][0] or 0
        stats["max_cell_pts"] = mx_eff
        cell_min = min(grid.cell_w, grid.cell_h)
        # radius cap: the per-query disk never exceeds max_cells_per_query
        # (a query that would need more loops until the all-capped /
        # max_rounds exit routes it to the exhaustive pass)
        r_cap = max(1, (_math.isqrt(max_cells_per_query) - 1) // 2)
        density = n_total / max(grid.n_cells, 1)

        qcx = F.floor((F.col("qx") - F.lit(grid.x0)) / F.lit(grid.cell_w))
        qcy = F.floor((F.col("qy") - F.lit(grid.y0)) / F.lit(grid.cell_h))
        pending = queries.select("q_id", "qx", "qy", qcx.alias("qcx"), qcy.alias("qcy"))
        if n_total > 0:
            # per-query initial radius from the query's OWN-CELL occupancy
            # (floored by the global density): one map-side-combined count
            # per occupied cell, joined to the query table — under hot-box
            # skew this is the difference between every hot query probing
            # the whole hot region and probing its immediate ring
            d_eff = F.greatest(
                F.coalesce(F.col("_n"), F.lit(0)).cast("double"),
                F.lit(float(density)),
            )
            r0 = F.ceil(F.sqrt(F.lit(64.0 * k) / d_eff) / F.lit(2.0)) - F.lit(1)
            # out-of-grid queries must NOT alias a valid cell (qcx=-1,
            # qcy=1 would map onto cell (nx-1, 0) and seed the radius
            # from an unrelated cell's occupancy — ADVICE r6): a null
            # seeding cell misses the counts join, so d_eff falls back
            # to the global density. Exactness was never at stake
            # (certification bounds results), only the initial radius.
            in_grid = (
                (F.col("qcx") >= 0)
                & (F.col("qcx") < grid.nx)
                & (F.col("qcy") >= 0)
                & (F.col("qcy") < grid.ny)
            )
            pending = (
                pending.withColumn(
                    "cell_id",
                    F.when(
                        in_grid,
                        (F.col("qcx") + F.lit(grid.nx) * F.col("qcy")).cast("long"),
                    ),
                )
                .join(counts, "cell_id", "left")
                .withColumn(
                    "r",
                    F.least(
                        F.greatest(r0.cast("long"), F.lit(1)), F.lit(int(r_cap))
                    ),
                )
                .drop("cell_id", "_n")
            )
        else:
            pending = pending.withColumn("r", F.lit(min(4, r_cap)))
        phase["occupancy_sec"] = round(_time.perf_counter() - _t0, 3)
        # round 1's plan references pending three times (probe disk,
        # probed-cell distinct for the point prune, certification join);
        # caching the O(|queries|) frame computes the counts-join subtree
        # once instead of three times
        pending = pending.persist()
        first_pending = pending
        dist2_col = (
            (F.col(x) - F.col("qx")) * (F.col(x) - F.col("qx"))
            + (F.col(y) - F.col("qy")) * (F.col(y) - F.col("qy"))
        ).alias("dist2")

        def _topk(cand: DataFrame) -> DataFrame:
            return cand.groupBy("q_id").agg(
                F.slice(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("dist2"), F.col(id_col).alias("_id")))
                    ),
                    1,
                    k,
                ).alias("top")
            )

        def _explode(certified: DataFrame) -> DataFrame:
            return certified.select(
                "q_id", F.posexplode("top").alias("pos", "s")
            ).select(
                "q_id",
                F.col("s._id").alias(id_col),
                (F.col("pos") + 1).alias("rank"),
                F.col("s.dist2").alias("dist2"),
            )

        results: list[DataFrame] = []
        kept: list[DataFrame] = []
        min_r_pending = 0
        while True:
            _t0 = _time.perf_counter()
            stats["rounds"] += 1
            # all-capped pending queries can never certify (their disk, and
            # with it their top-k, can no longer grow) — re-probing is waste
            exhaust = stats["rounds"] > max_rounds or min_r_pending >= r_cap
            if exhaust:
                # one broadcast nested-loop pass: pending queries x all
                # in-grid points; globally exact, closes out every straggler
                stats["exhaustive"] = True
                cand = pts.crossJoin(
                    F.broadcast(pending.select("q_id", "qx", "qy"))
                ).select("q_id", F.col(id_col), dist2_col)
                results.append(_explode(_topk(cand)))
                phase["round_sec"].append(round(_time.perf_counter() - _t0, 3))
                break
            offs = F.sequence(-F.col("r"), F.col("r"))
            disk = (
                pending.withColumn("dx", F.explode(offs))
                .withColumn("dy", F.explode(offs))
                .withColumn("cx", F.col("qcx") + F.col("dx"))
                .withColumn("cy", F.col("qcy") + F.col("dy"))
                .filter(
                    (F.col("cx") >= 0)
                    & (F.col("cx") < grid.nx)
                    & (F.col("cy") >= 0)
                    & (F.col("cy") < grid.ny)
                )
                .select(
                    "q_id",
                    "qx",
                    "qy",
                    (F.col("cx") + F.lit(grid.nx) * F.col("cy")).alias("cell_id"),
                )
            )
            if counts is not None:
                # EMPTY probed cells contribute nothing to any top-k and
                # certification is a pure distance bound over the probed
                # AREA, so dropping their probe rows is exact — and on a
                # refined grid a sparse query's disk is mostly empty
                # cells, i.e. this prunes the dominant share of the
                # Arrow feed into the python kernel
                disk = disk.join(
                    F.broadcast(counts.select("cell_id")), "cell_id", "leftsemi"
                )
            # per-cell BLOCK top-k instead of a raw candidate join: a
            # broadcast join + collect_list materializes every (query,
            # point-in-disk) pair in the JVM — under hot-cell skew that is
            # O(|hot queries| x |hot points|) rows (measured 302M rows in
            # round 1 at sf0.1, ~3.7M expected under uniformity) and the
            # aggregation buffers all of it. Cogrouping probes and points by
            # cell keeps the Arrow transfer at O(probes + points) rows; the
            # quadratic distance work runs vectorized in numpy inside each
            # cell block, and only <= k rows per (query, cell) ever reach
            # the JVM merge. Per-cell top-k then global merge is exact
            # (distributive top-k); ties break by (dist2, id) in BOTH the
            # numpy block and the JVM merge, and the arithmetic is the same
            # IEEE double sequence as dist2_col, so results are bit-equal
            # to the join form.
            # prune the point side to probed cells BEFORE the cogroup
            # shuffle — but only from round 2 on (r8): in round 1 every
            # query is pending and the disks cover most occupied cells,
            # so the prune dropped ~70% of point rows yet still LOST
            # overall (measured at sf1.0: round 5.3s median without vs
            # 6.9s with — the distinct+broadcast job and the second
            # disk computation cost more than shuffling the extra rows;
            # unmatched point buckets exit the kernel immediately).
            # Later rounds have FEW pending queries, so without the
            # prune the full point table would re-shuffle every round —
            # there the distinct cell list is small and the prune wins.
            if stats["rounds"] > 1:
                pts_round = pts.join(
                    F.broadcast(disk.select("cell_id").distinct()),
                    "cell_id",
                    "leftsemi",
                )
            else:
                pts_round = pts
            # bucket count from DATA volume, not cell count (r8): the
            # pandas cogroup pays fixed per-GROUP overhead, so groups
            # should be as few as balance allows — the refined grid's
            # old cell-count formula hit the 32768 cap and charged
            # ~0.5-1s of pure group overhead per round at sf1.0
            # (measured sweep: 512 groups 2.8-3.4s vs 32768 3.5-3.6s
            # kernel wall; skew below 256 groups reverses the gain).
            # Scale-adaptively: ~2048 point rows per bucket, floored at
            # 512 (balance across tasks), capped at 32768 (bounds the
            # per-group pandas frame at scale).
            ng = int(min(grid.n_cells, max(512, n_total // 2048), 32768))
            percell = _block_topk_by_cell(
                disk, pts_round, grid, k, x, y, id_col,
                n_groups=ng, cell_counts=counts,
                # measured refined-grid occupancy bound: when no cell
                # exceeds the block budget, the hot-split joins/explode
                # are provably dead weight (see _block_topk_by_cell)
                bounded_cells=(mx_eff is not None and mx_eff <= 2048),
            )
            # ONE persisted frame per round, covering BOTH branches: the
            # loop-control count below materializes it, so the certified
            # filter and the next round's pending filter are cache reads —
            # the expensive probe stage executes exactly once per round
            topk = pending.join(_topk(percell), "q_id", "left").persist()
            kept.append(topk)
            r_reach = F.col("r").cast("double") * F.lit(float(cell_min))
            done_cond = (F.size("top") >= k) & (
                F.element_at("top", k)["dist2"] <= r_reach * r_reach
            )
            results.append(_explode(topk.filter(done_cond).select("q_id", "top")))
            nxt = topk.filter(~F.coalesce(done_cond, F.lit(False))).select(
                "q_id", "qx", "qy", "qcx", "qcy", "r"
            )
            # the ONLY driver-side action per round: pending count for loop
            # exit + the minimum radius JUST PROBED (pre-growth) for the
            # all-capped exhaustive route
            row = nxt.agg(
                F.count(F.lit(1)).alias("n"), F.min("r").alias("rmin")
            ).collect()[0]
            n_pending, min_r_pending = row["n"], row["rmin"] or 0
            # 4x radius growth, capped; stateless full-disk re-probe
            pending = nxt.withColumn(
                "r", F.least(F.col("r") * 4 + 3, F.lit(int(r_cap)))
            )
            phase["round_sec"].append(round(_time.perf_counter() - _t0, 3))
            if n_pending == 0:
                break
        _t0 = _time.perf_counter()
        out = results[0]
        for df in results[1:]:
            out = out.unionByName(df)
        # materialize the bounded O(q x k) result ONCE while the round caches
        # are live, then release every intermediate cache — consumption of
        # the returned frame is a cache read, never a probe-join re-run
        out = out.persist()
        out.count()
        for df in kept:
            df.unpersist(False)
        first_pending.unpersist(False)
        if counts is not None:
            counts.unpersist(False)
        if counts16 is not None and counts16 is not counts:
            counts16.unpersist(False)
        pts_base.unpersist(False)
        phase["finalize_sec"] = round(_time.perf_counter() - _t0, 3)
        return out
    finally:
        spark.conf.set(_coalesce_key, _coalesce_prev)


def radius_query(
    spark: SparkSession,
    points: DataFrame,
    grid: GridSpec,
    queries: list[tuple[int, float, float]],
    rx: float,
    ry: float,
    x: str = "x",
    y: str = "y",
    id_col: str = "event_id",
    literal_cap: int = 65_536,
    stats: dict | None = None,
) -> DataFrame:
    """Ellipse radius query — the reference's getRegionPt primitive
    (CPUJoin/GridIndexF.cpp:177-198): probe the cell ring covering
    [q - r, q + r], keep points with ((x-qx)/rx)^2 + ((y-qy)/ry)^2 <= 1
    (the ellipse test at GridIndexF.cpp:15-19). Returns
    (q_id, id, dist2) for every point inside some query's ellipse.

    Plan: enumerate covering cells per query on the driver (tiny),
    broadcast, hash-join on cell_id, native-expression ellipse filter —
    all JVM-side. When the covering-cell table would exceed
    ``literal_cap`` rows (a huge radius relative to the cell size —
    knn_join's fine-grid hazard applies here too), the cell table is
    skipped entirely: the tiny query list broadcasts against all points
    and the ellipse filter alone selects — same rows, one full scan,
    never a giant driver-built literal."""
    qlit = spark.createDataFrame(
        [(q, qx, qy) for q, qx, qy in queries],
        T.StructType(
            [
                T.StructField("q_id", T.LongType(), False),
                T.StructField("qx", T.DoubleType(), False),
                T.StructField("qy", T.DoubleType(), False),
            ]
        ),
    )
    pts = points.withColumn("cell_id", grid.cell_id_col(F.col(x), F.col(y))).filter(
        F.col("cell_id").isNotNull()
    )
    spans = [
        grid.mbr_cell_range(qx - rx, qy - ry, qx + rx, qy + ry)
        for _, qx, qy in queries
    ]
    # clamp each span: mbr_cell_range clamps lower bounds at 0 and upper
    # at nx/ny, so a query MBR fully outside the grid yields a NEGATIVE
    # span that must not offset another query's huge positive span and
    # sneak past the cap
    n_cells = sum(
        max(0, enx - stx) * max(0, eny - sty) for stx, sty, enx, eny in spans
    )
    if stats is not None:
        stats.update({"n_cells": n_cells, "fallback": n_cells > literal_cap})
    if n_cells > literal_cap:
        cand = pts.crossJoin(F.broadcast(qlit))
    else:
        rows = []
        for (q, _, _), (stx, sty, enx, eny) in zip(queries, spans):
            for yy in range(sty, eny):
                for xx in range(stx, enx):
                    rows.append((q, xx + grid.nx * yy))
        cand_cells = spark.createDataFrame(
            rows,
            T.StructType(
                [
                    T.StructField("q_id", T.LongType(), False),
                    T.StructField("cell_id", T.LongType(), False),
                ]
            ),
        )
        cand = (
            pts.join(F.broadcast(cand_cells), "cell_id", "inner")
            .join(F.broadcast(qlit), "q_id", "inner")
        )
    ex = (F.col(x) - F.col("qx")) / F.lit(rx)
    ey = (F.col(y) - F.col("qy")) / F.lit(ry)
    return cand.filter(ex * ex + ey * ey <= F.lit(1.0)).select(
        "q_id",
        F.col(id_col),
        ((F.col(x) - F.col("qx")) * (F.col(x) - F.col("qx"))
         + (F.col(y) - F.col("qy")) * (F.col(y) - F.col("qy"))).cast("long").alias("dist2"),
    )
