"""Polygon collections: CSR layout, reference text format, generators.

Mirrors the reference's polygon handling (RasterJoin/db/PolyHandler.cpp):
- text format: ``total``, then per polygon ``#rings``, per ring ``#verts``
  then ``x y`` pairs; consecutive duplicate vertices dropped, closing
  vertex dropped, rings concatenated (PolyHandler.cpp:133-176)
- flat CSR representation: ``verts`` float (TotalV,2) + ``offsets``
  (P+1,) start indices (PolyHandler.cpp:49-80 ``polys``/``pindexes``)
- per-polygon MBRs for grid cover (GridIndexF.cpp:83-125)

Polygons are assumed to fit in driver memory and are broadcast to
executors (PolyHandler.hpp:26-29 makes the same assumption for the GPU);
at 100 TB scale the points are the big side — polygon sets are a few MB.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


@dataclass
class PolygonSet:
    verts: np.ndarray  # (TotalV, 2) float64
    offsets: np.ndarray  # (P+1,) int64
    name: str = "polys"
    # per-polygon vertex count per ring (post-cleanup; sums to the
    # polygon's CSR extent). None == every polygon is single-ring. The
    # KERNELS never see this — the reference flattens rings into one
    # vertex run per polygon (PolyHandler.cpp:49-80 pindexes, and the
    # crossing-parity PIP walks that flat run with a wraparound edge,
    # shaders/line-bound.frag:195-209) and we reproduce that rule
    # bug-for-bug, phantom inter-ring edges included. ring_sizes exists
    # so save_text can round-trip the FILE structure faithfully.
    ring_sizes: list[np.ndarray] | None = field(default=None, repr=False)
    _mbrs: np.ndarray | None = field(default=None, repr=False)
    _cache_token: str | None = field(default=None, repr=False)

    # -- constructors ---------------------------------------------------

    @staticmethod
    def from_list(polys: list[list[tuple[float, float]]], name: str = "polys") -> "PolygonSet":
        """Build from vertex lists, applying the reference's cleanup rules
        (PolyHandler.cpp:150-167): drop consecutive duplicates and the
        closing vertex if it repeats the first."""
        cleaned: list[np.ndarray] = []
        for poly in polys:
            pts: list[tuple[float, float]] = []
            for k, pt in enumerate(poly):
                if k > 0 and pt == pts[-1]:
                    continue
                pts.append(tuple(pt))
            if len(pts) > 1 and pts[0] == pts[-1]:
                pts.pop()
            cleaned.append(np.asarray(pts, dtype=np.float64))
        offsets = np.zeros(len(cleaned) + 1, dtype=np.int64)
        for i, c in enumerate(cleaned):
            offsets[i + 1] = offsets[i] + len(c)
        verts = (
            np.concatenate(cleaned, axis=0) if cleaned else np.empty((0, 2), np.float64)
        )
        return PolygonSet(verts=verts, offsets=offsets, name=name)

    @staticmethod
    def from_rings(
        polys: list[list[list[tuple[float, float]]]], name: str = "polys"
    ) -> "PolygonSet":
        """Build from per-polygon RING lists with the reference's exact
        cleanup (PolyHandler.cpp:144-166): within a ring, a vertex after
        the first is dropped iff it equals the immediately preceding
        vertex; a ring's FIRST vertex is always kept (even when it
        repeats the previous ring's last — k==0 bypasses the prev
        check); after all rings, the overall closing vertex is dropped
        iff it equals the overall first. Rings then FLATTEN into one
        vertex run per polygon — the reference's pindexes layout — so
        the crossing-parity PIP sees phantom inter-ring edges, which is
        bug-for-bug what the GPU shader computes."""
        cleaned: list[np.ndarray] = []
        ring_sizes: list[np.ndarray] = []
        any_multi = False
        for rings in polys:
            pts: list[tuple[float, float]] = []
            sizes: list[int] = []
            for ring in rings:
                n0 = len(pts)
                for k, pt in enumerate(ring):
                    pt = (float(pt[0]), float(pt[1]))
                    if k > 0 and pts and pt == pts[-1]:
                        continue
                    pts.append(pt)
                sizes.append(len(pts) - n0)
            if len(pts) > 1 and pts[0] == pts[-1]:
                pts.pop()
                sizes[-1] -= 1
            cleaned.append(
                np.asarray(pts, dtype=np.float64).reshape(len(pts), 2)
            )
            ring_sizes.append(np.asarray(sizes, dtype=np.int64))
            any_multi = any_multi or len(sizes) > 1
        offsets = np.zeros(len(cleaned) + 1, dtype=np.int64)
        for i, c in enumerate(cleaned):
            offsets[i + 1] = offsets[i] + len(c)
        verts = (
            np.concatenate(cleaned, axis=0) if cleaned else np.empty((0, 2), np.float64)
        )
        return PolygonSet(
            verts=verts,
            offsets=offsets,
            name=name,
            ring_sizes=ring_sizes if any_multi else None,
        )

    @staticmethod
    def load_text(path: str, name: str = "polys") -> "PolygonSet":
        """Parse the reference's polygon text format (PolyHandler.cpp:133-176)."""
        with open(path) as f:
            tokens = f.read().split()
        it = iter(tokens)
        total = int(next(it))
        polys: list[list[list[tuple[float, float]]]] = []
        for _ in range(total):
            n_rings = int(next(it))
            rings: list[list[tuple[float, float]]] = []
            for _ in range(n_rings):
                n_verts = int(next(it))
                ring = [
                    (float(next(it)), float(next(it))) for _ in range(n_verts)
                ]
                rings.append(ring)
            polys.append(rings)
        return PolygonSet.from_rings(polys, name=name)

    def poly_rings(self, p: int) -> list[np.ndarray]:
        """The polygon's rings as vertex arrays (single flat ring when no
        ring structure was recorded)."""
        pv = self.poly_verts(p)
        if self.ring_sizes is None:
            return [pv]
        ends = np.cumsum(self.ring_sizes[p])
        return [pv[s:e] for s, e in zip(np.r_[0, ends[:-1]], ends)]

    def evenodd_view(self) -> "PolygonSet":
        """OGC-style even-odd ring semantics (holes honored), expressed
        as a PLAIN flat-run collection so every unchanged crossing-parity
        kernel — numpy pip_mask/pip_candidates, the generated SQL oracle,
        classify_cells — computes it without knowing rings exist.

        Construction (the classic keyhole bridge, made parity-exact):
        each ring is explicitly closed by re-appending its first vertex,
        and every ring after the first is entered from and returned to
        the FIRST ring's start vertex (the anchor). The resulting run's
        inter-ring edges therefore come in coincident forward/backward
        pairs (anchor->ring_start, ring_start->anchor) whose crossing
        contributions cancel mod 2, while each ring contributes its own
        closed cycle — i.e. the flattened crossing parity equals the
        XOR of per-ring parities, which IS standard even-odd: hole
        interiors test OUTSIDE, and the reference semantics' phantom-
        edge slivers (PolyHandler.cpp:49-80 flattening) disappear.

        Caveat: a point lying within one float ulp of a bridge segment
        can see the pair's two xcross values differ in the last bit and
        pick up a spurious crossing — a measure-zero sliver along a
        segment the caller's geometry never defined. Engine and oracle
        still agree bit-for-bit there (both replay the identical edge
        run), so exactness gates are unaffected.

        Single-ring collections return self (parity over one cycle is
        independent of an explicit closing vertex)."""
        if self.ring_sizes is None:
            return self
        new_polys: list[np.ndarray] = []
        for p in range(self.n_polys):
            rings = self.poly_rings(p)
            if len(rings) == 1:
                new_polys.append(rings[0])
                continue
            anchor = rings[0][:1]  # (1, 2) view of the first ring's start
            run = [rings[0], anchor]
            for i, ring in enumerate(rings[1:], start=1):
                run.append(ring)
                run.append(ring[:1])  # close the ring
                if i < len(rings) - 1:
                    run.append(anchor)  # return to anchor; the final
                    # ring's return edge is the wraparound itself
            new_polys.append(np.concatenate(run, axis=0))
        offsets = np.zeros(self.n_polys + 1, dtype=np.int64)
        for i, c in enumerate(new_polys):
            offsets[i + 1] = offsets[i] + len(c)
        return PolygonSet(
            verts=np.concatenate(new_polys, axis=0)
            if new_polys
            else np.empty((0, 2), np.float64),
            offsets=offsets,
            name=f"{self.name}_evenodd",
        )

    def save_text(self, path: str) -> None:
        """Write the reference's text format, round-tripping ring
        structure: load_text(save_text(ps)) reproduces the identical
        CSR AND ring_sizes (cleanup is idempotent on cleaned input)."""
        lines = [str(self.n_polys)]
        for p in range(self.n_polys):
            rings = self.poly_rings(p)
            lines.append(str(len(rings)))
            for ring in rings:
                lines.append(str(len(ring)))
                for x, y in ring:
                    lines.append(f"{x!r} {y!r}")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")

    # -- accessors -------------------------------------------------------

    @property
    def n_polys(self) -> int:
        return len(self.offsets) - 1

    def poly_verts(self, p: int) -> np.ndarray:
        return self.verts[self.offsets[p] : self.offsets[p + 1]]

    @property
    def mbrs(self) -> np.ndarray:
        """(P, 4) [minx, miny, maxx, maxy]. A polygon with no vertices
        gets the empty box [inf, inf, -inf, -inf], which no cell range
        covers and which leaves :attr:`bbox` unchanged."""
        if self._mbrs is None:
            m = np.tile([np.inf, np.inf, -np.inf, -np.inf], (self.n_polys, 1))
            offs = self.offsets
            some = np.diff(offs) > 0
            if some.any():
                # consecutive starts of non-empty polygons bound each one's
                # vertex run (the empty ones between them add nothing)
                v = self.verts[: offs[-1]]
                seg = offs[:-1][some]
                m[some] = np.stack(
                    [
                        np.minimum.reduceat(v[:, 0], seg),
                        np.minimum.reduceat(v[:, 1], seg),
                        np.maximum.reduceat(v[:, 0], seg),
                        np.maximum.reduceat(v[:, 1], seg),
                    ],
                    axis=1,
                )
            self._mbrs = m
        return self._mbrs

    @property
    def cache_token(self) -> str:
        """Content fingerprint for memoization keys. Classification and
        broadcast-table caches MUST key on the geometry itself, not the
        collection ``name`` — two differently-shaped sets sharing a name
        (trivially easy: every generator has a default name) would
        otherwise serve each other stale tables. md5 over the CSR bytes,
        computed once per instance (a few MB even at 65k polygons)."""
        if self._cache_token is None:
            import hashlib

            h = hashlib.md5()
            h.update(np.ascontiguousarray(self.verts).tobytes())
            h.update(np.ascontiguousarray(self.offsets).tobytes())
            self._cache_token = h.hexdigest()
        return self._cache_token

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        m = self.mbrs
        return (
            float(m[:, 0].min()),
            float(m[:, 1].min()),
            float(m[:, 2].max()),
            float(m[:, 3].max()),
        )

    def transform(self, fn) -> "PolygonSet":
        """Apply a coordinate transform fn(x_arr, y_arr) -> (x', y')
        (e.g. lat/lon -> world, cf. transformPolygon UsefulFuncs.cpp:612-623)."""
        x, y = fn(self.verts[:, 0], self.verts[:, 1])
        return PolygonSet(
            verts=np.stack([np.asarray(x, np.float64), np.asarray(y, np.float64)], axis=1),
            offsets=self.offsets.copy(),
            name=self.name,
        )

    def as_float32(self) -> "PolygonSet":
        """Narrow vertices to float32 then back — reproduces the precision of
        the reference's GPU vertex buffers (PolyHandler.cpp:49-64 stores
        float)."""
        return PolygonSet(
            verts=self.verts.astype(np.float32).astype(np.float64),
            offsets=self.offsets.copy(),
            name=self.name,
        )


def load_collections(list_path: str) -> dict[str, PolygonSet]:
    """Load a polygon-list file mapping ``collectionName,fileName`` per
    line (relative to the list file's directory), the reference's
    multi-collection catalog (PolyHandler.cpp:20-40)."""
    import os

    base = os.path.dirname(os.path.abspath(list_path))
    out: dict[str, PolygonSet] = {}
    with open(list_path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            name, fname = (s.strip() for s in line.split(",", 1))
            out[name] = PolygonSet.load_text(os.path.join(base, fname), name=name)
    return out


# -- deterministic generators (seeded; no external data) -----------------


def grid_polygons(
    n: int,
    x0: float,
    y0: float,
    x1: float,
    y1: float,
    jitter: float = 0.0,
    seed: int = 42,
    name: str = "synthetic",
) -> PolygonSet:
    """n jittered rectangles tiling the box — mirrors the reference's
    synthetic polygon sweep (experiments/run-scripts/raster-polygons.ps1:22,
    --polygonDataset 128..65536)."""
    side = int(np.ceil(np.sqrt(n)))
    rng = np.random.RandomState(seed)
    w = (x1 - x0) / side
    h = (y1 - y0) / side
    polys = []
    for i in range(n):
        gx = i % side
        gy = i // side
        lx = x0 + gx * w
        ly = y0 + gy * h
        j = rng.uniform(-jitter, jitter, size=8) * min(w, h) if jitter > 0 else np.zeros(8)
        polys.append(
            [
                (lx + j[0], ly + j[1]),
                (lx + w + j[2], ly + j[3]),
                (lx + w + j[4], ly + h + j[5]),
                (lx + j[6], ly + h + j[7]),
            ]
        )
    return PolygonSet.from_list(polys, name=name)


def blob_polygons(
    n: int,
    x0: float,
    y0: float,
    x1: float,
    y1: float,
    n_verts: int = 8,
    seed: int = 42,
    name: str = "neigh",
) -> PolygonSet:
    """n irregular star-convex polygons (random radial blobs) — the
    NYC-neighborhood-style fixture (FIXTURES.md §2); includes concave
    shapes whenever radial jitter makes a vertex dip inward."""
    rng = np.random.RandomState(seed)
    side = int(np.ceil(np.sqrt(n)))
    w = (x1 - x0) / side
    h = (y1 - y0) / side
    polys = []
    for i in range(n):
        cx = x0 + (i % side + 0.5) * w
        cy = y0 + (i // side + 0.5) * h
        ang = np.sort(rng.uniform(0, 2 * np.pi, size=n_verts))
        rad = rng.uniform(0.25, 0.48, size=n_verts)
        xs = cx + np.cos(ang) * rad * w
        ys = cy + np.sin(ang) * rad * h
        polys.append(list(zip(xs.tolist(), ys.tolist())))
    return PolygonSet.from_list(polys, name=name)
