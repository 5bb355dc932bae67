"""The closed-loop workloads: request generation, execution through the
package's public entry points, and the correctness check.

Requests come in blocks and a run measures whole blocks. The seed picks
each request's parameters; the kind of work in a block does not depend
on it.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

import reference as ref
from raster_join_spark.fixtures import (
    ALT_POLYS,
    COARSE_GRID,
    FINE_GRID,
    HOLE_POLYS,
    KNN_K,
    ORACLE_POLYS,
    X0,
    X1,
    Y0,
    Y1,
)
from raster_join_spark.geo.classify import POLY_GRID_CACHE
from raster_join_spark.geo.polygons import PolygonSet, blob_polygons
from raster_join_spark.operators.knn import knn_join_bulk
from raster_join_spark.operators.spatial_join import SpatialJoin
from raster_join_spark.plans.query import (
    Aggregation,
    ConstraintType,
    QueryConstraint,
    QueryEngine,
)

POOL = {"oracle16": ORACLE_POLYS, "alt8": ALT_POLYS, "holes3": HOLE_POLYS}
GRID_OF = {"raster": FINE_GRID, "errorbounds": FINE_GRID, "index": COARSE_GRID, "hybrid": COARSE_GRID}
AGGS = {"count": Aggregation.COUNT, "sum": Aggregation.SUM, "avg": Aggregation.AVG}


@dataclass
class Request:
    kind: str
    params: dict
    docs: int  # pages the request reads


class Workload:
    """One workload over a session's page table.

    ``run`` is the timed request, with a span around each call into a
    layer; ``settle`` is untimed follow-up on its response (fetching
    sampled rows to check, releasing caches); ``scan`` forces the
    request's filtered input alone (traced runs only).
    """

    def __init__(self, spark, points, ts_us: np.ndarray, rng: np.random.Generator) -> None:
        self.spark = spark
        self.points = points
        self.ts_us = ts_us
        self.rng = rng

    @staticmethod
    def in_days(df, d0: int, d1: int):
        """``df`` restricted to days d0..d1, as QueryEngine.execute_query filters."""
        t0, t1 = ref.day_bounds(d0, d1)
        ts = F.col("warc_ts")
        return df.filter(ts >= F.lit(t0).cast("timestamp_ntz")).filter(
            ts <= F.lit(t1).cast("timestamp_ntz")
        )

    def settle(self, req: Request, resp):
        return resp


class InteractiveAgg(Workload):
    """The paper's query shape through QueryEngine, over a fixed pool of
    three collections that fits every program cache."""

    def __init__(self, spark, points, ts_us, rng) -> None:
        super().__init__(spark, points, ts_us, rng)
        self.engines = {g: QueryEngine(spark, points, g) for g in (COARSE_GRID, FINE_GRID)}

    # constraint shapes the requests draw from; warm-up rotates through them
    WARM_CONS = ([], [("lang", "EQ", "view")], [("value_c", "GT", 1000)],
                 [("value_c", "LT", 9000)], [("lang", "EQ", "click"), ("value_c", "GT", 1000)])

    def warm(self, tracer) -> None:
        """Every (strategy, collection) pair once, the aggregations and
        constraint shapes rotating over them so every (strategy,
        aggregation) pair is seen too. Warming all 36 (strategy,
        collection, aggregation) triples would add ~40 s of set-up and
        remove no outlier: after its first visit a pair costs the same
        with any aggregation (README.md, Set-up)."""
        aggs = list(AGGS)
        for j, fn in enumerate(GRID_OF):
            for k, coll in enumerate(POOL):
                params = {
                    "coll": coll,
                    "agg": aggs[(j + k) % len(aggs)],
                    "d0": 0,
                    "d1": ref.N_DAYS - 1,
                    "cons": self.WARM_CONS[(len(POOL) * j + k) % len(self.WARM_CONS)],
                }
                self.run(Request(fn, params, docs=len(self.ts_us)), tracer)

    def replay(self, req: Request) -> Request:
        """The same request again: its collection is in every cache, as
        it was the first time."""
        return req

    def blocks(self):
        """Every strategy once per block, in seeded order."""
        while True:
            yield [self._request(str(fn)) for fn in self.rng.permutation(list(GRID_OF))]

    def _request(self, fn: str) -> Request:
        n_days = int(self.rng.integers(1, 11))
        d0 = int(self.rng.integers(0, ref.N_DAYS - n_days + 1))
        cons = []
        for c in self.rng.permutation(3)[: int(self.rng.integers(0, 3))]:
            if c == 0:
                cons.append(("lang", "EQ", str(self.rng.choice(ref.LANGS))))
            elif c == 1:
                cons.append(("value_c", "GT", int(self.rng.integers(500, 5000))))
            else:
                cons.append(("value_c", "LT", int(self.rng.integers(5000, 20000))))
        params = {
            "coll": str(self.rng.choice(list(POOL))),
            "agg": str(self.rng.choice(list(AGGS))),
            "d0": d0,
            "d1": d0 + n_days - 1,
            "cons": cons,
        }
        return Request(fn, params, docs=len(self.ts_us))

    def run(self, req: Request, tracer):
        p, fn = req.params, req.kind
        engine = self.engines[GRID_OF[fn]]
        engine.set_polygon_query(POOL[p["coll"]])
        with tracer.span("plans.query.execute_query_s"):
            engine.execute_query(None, *ref.day_bounds(p["d0"], p["d1"]))
        engine.set_query_constraints(
            [QueryConstraint(a, ConstraintType[op], v) for a, op, v in p["cons"]]
        )
        engine.set_aggregation(AGGS[p["agg"]], None if p["agg"] == "count" else "value_c")
        with tracer.span("plans.query.execute_function_s"):
            df = engine.execute_function(fn)
        with tracer.span(f"operators.spatial_join.exec_s.{fn}"):
            return [r.asDict() for r in df.collect()]

    def scan(self, req: Request) -> int:
        p = req.params
        polys = POOL[p["coll"]]
        df = SpatialJoin(self.spark, polys, GRID_OF[req.kind]).coarse_scan(self.points, *polys.bbox)
        df = self.in_days(df, p["d0"], p["d1"])
        for a, op, v in p["cons"]:
            df = df.filter(QueryConstraint(a, ConstraintType[op], v).to_column())
        return df.count()

    def check(self, req: Request, rows, pts: ref.Points) -> str | None:
        p = req.params
        rings = ref.rings_of(POOL[p["coll"]])
        m = pts.mask(p["d0"], p["d1"], p["cons"])
        by_poly = {r["poly_id"]: r for r in rows}
        if sorted(by_poly) != list(range(len(rings))):
            return f"polygon ids {sorted(by_poly)}"
        if req.kind == "errorbounds":
            exact = ref.exact_agg(pts, m, rings, "count")
            raster = ref.raster_agg(pts, m, rings, FINE_GRID, "count")
            for i in range(len(rings)):
                r = by_poly[i]
                if not (r["lo1"] <= exact[i] <= r["hi1"]) or r["cnt"] != raster[i]:
                    return f"poly {i}: {r} vs exact {exact[i]} raster {raster[i]}"
            return None
        if req.kind == "raster":
            want = ref.raster_agg(pts, m, rings, FINE_GRID, p["agg"])
        else:
            want = ref.exact_agg(pts, m, rings, p["agg"])
        got = [by_poly[i]["agg"] for i in range(len(rings))]
        return None if got == want else f"got {got} want {want}"


class BulkPipeline(Workload):
    """Training-data enrichment batch: assign every page of a day slice to
    a never-seen region collection, and find the exact kNN of every page
    of the slice against the full table."""

    KNN_SAMPLE = 64
    # A run holds about one request, and per-call time grows with the
    # slice (33k pages: ~9 s, 100k: ~13 s), so a seeded length would make
    # a run's latency a function of its seed. Length and collection size
    # are fixed; the start day and the polygons are seeded.
    SLICE_DAYS = 20
    N_POLYS, N_VERTS = 4096, 32

    def warm(self, tracer) -> None:
        req = self._request(ref.N_DAYS)
        self.settle(req, self.run(req, tracer))

    def blocks(self):
        while True:
            yield [self._request(self.SLICE_DAYS)]

    def replay(self, req: Request) -> Request:
        """The same slice and collection, each ring starting at its next
        vertex: the same geometry and answer, but new bytes, so the
        content-keyed caches miss as they did the first time."""
        polys = [ring[1:] + ring[:1] for ring in req.params["polys"]]
        return Request(req.kind, dict(req.params, polys=polys), req.docs)

    def _request(self, n_days: int) -> Request:
        d0 = int(self.rng.integers(0, ref.N_DAYS - n_days + 1))
        d1 = d0 + n_days - 1
        # event ids follow timestamp order, so the slice is an id range
        first, end = np.searchsorted(self.ts_us, ref.T0_US + np.array([d0, d1 + 1]) * ref.DAY_US)
        docs = int(end - first)
        sample = first + self.rng.choice(docs, size=min(self.KNN_SAMPLE, docs), replace=False)
        raw = blob_polygons(
            self.N_POLYS, X0, Y0, X1, Y1, n_verts=self.N_VERTS, seed=int(self.rng.integers(1, 2**31))
        )
        polys = [
            [(float(round(x)), float(round(y))) for x, y in raw.poly_verts(p)]
            for p in range(raw.n_polys)
        ]
        params = {"d0": d0, "d1": d1, "sample": sorted(map(int, sample)), "polys": polys}
        return Request(f"days{n_days}", params, docs=docs)

    def run(self, req: Request, tracer):
        p = req.params
        pages = self.in_days(self.points, p["d0"], p["d1"])
        with tracer.span("geo.polygons.from_list_s"):
            polys = PolygonSet.from_list(p["polys"], name="regions")
        if tracer.enabled:
            with tracer.span("geo.classify.tables_s"):
                POLY_GRID_CACHE.get(COARSE_GRID, polys)
        with tracer.span("operators.spatial_join.init_s"):
            sj = SpatialJoin(self.spark, polys, COARSE_GRID)
        with tracer.span("operators.spatial_join.plan_s"):
            k = F.col("event_id") * polys.n_polys + F.col("poly_id")
            digest = sj.assign_polygons(pages, cols=["event_id"]).agg(
                F.count(F.lit(1)), F.sum(k), F.sum((k * k) % ref.DIGEST_MOD)
            )
        with tracer.span("operators.spatial_join.exec_s.assign"):
            assign = tuple(int(v or 0) for v in digest.first())
        queries = pages.select(
            F.col("event_id").alias("q_id"), F.col("x").alias("qx"), F.col("y").alias("qy")
        )
        with tracer.span("operators.knn.knn_join_bulk_s"):
            knn = knn_join_bulk(self.spark, self.points, COARSE_GRID, queries, KNN_K)
        return {"assign": assign, "knn_rows": knn.count(), "knn": knn}

    def settle(self, req: Request, resp):
        knn = resp.pop("knn")
        rows = knn.filter(F.col("q_id").isin(req.params["sample"])).collect()
        resp["knn_sample"] = sorted(
            (r["q_id"], r["rank"], r["event_id"], float(r["dist2"])) for r in rows
        )
        knn.unpersist()
        return resp

    def scan(self, req: Request) -> int:
        return self.in_days(self.points, req.params["d0"], req.params["d1"]).count()

    def check(self, req: Request, resp, pts: ref.Points) -> str | None:
        p = req.params
        m = pts.mask(p["d0"], p["d1"])
        rings = [np.asarray(r, dtype=np.float64) for r in p["polys"]]
        want = ref.assign_digest(pts, m, rings)
        if resp["assign"] != want:
            return f"assign digest {resp['assign']} want {want}"
        if resp["knn_rows"] != int(m.sum()) * KNN_K:
            return f"knn rows {resp['knn_rows']} want {int(m.sum()) * KNN_K}"
        want_knn = sorted(
            (q, rank + 1, eid, d2)
            for q, nbrs in ref.knn_rows(pts, np.array(p["sample"]), KNN_K).items()
            for rank, (eid, d2) in enumerate(nbrs)
        )
        return None if resp["knn_sample"] == want_knn else "knn sample differs"


WORKLOADS = {"interactive_agg": InteractiveAgg, "bulk_pipeline": BulkPipeline}
