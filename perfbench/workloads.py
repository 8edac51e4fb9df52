"""The benchmark workloads.

Each workload generates its inputs from the seed (outside any timing),
loads and prepares them through the engine's public entry points, and
exposes its operator calls, whose DataFrames a pass materializes in
turn.  The warm pass collects those DataFrames instead and checks them
against the oracles in ``oracles.py``.

``pages`` runs both pages operators (tiling and the city join) on the
same pages; ``knn_broadcast`` shares no operator with it.

Where the input parameters come from:
* hot-city share 0.8 and cluster sigma 0.05 deg, for pages and kNN
  query points alike: the repo's pages fixture (FIXTURES.md section 1);
* short body of 40 characters: the fixture's ``text`` body
  ("page {i} at {lat},{lng}");
* long body of 4096 characters: past the knee where the regex scan of
  an untagged body overtakes the fixed per-row regex cost (both
  regexes on one core of a 4-core x86 box: about 0.25 us per untagged
  row at 40 characters, 0.3 us at 1 KB, 0.9 us at 4 KB);
* tag shares (60% geo.position, 15% ICBM only, 25% none), long-body
  share 0.5, kNN target layout and k: assumptions.  The fixture tags
  every page with both tags, which never runs the ICBM fallback pass.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

import inputs
import oracles

TILE_LEVEL = 10
PIP_SAMPLE = 3_000  # half uniform over all pages, half from the boundary band
KNN_SAMPLE = 300
KNN_K = 4

PAGES = inputs.PagesSpec(
    n_pages=100_000,
    geo_share=0.6,
    icbm_share=0.15,
    hot_share=0.8,
    short_body=40,
    long_body=4096,
    long_share=0.5,
)
KNN_POINTS = inputs.PointsSpec(n=10_000, hot_share=0.8)
KNN_TARGETS = inputs.PointsSpec(n=10_000, hot_share=0.0)

# Small sizes for the self-test: same shapes, seconds instead of minutes.
SMALL = {
    "pages": inputs.PagesSpec(
        n_pages=20_000,
        geo_share=0.6,
        icbm_share=0.15,
        hot_share=0.8,
        short_body=40,
        long_body=512,
        long_share=0.5,
    ),
    "points": inputs.PointsSpec(n=1_000, hot_share=0.8),
    "targets": inputs.PointsSpec(n=8_000, hot_share=0.0),
}


def _sample(rng: np.random.Generator, pool: np.ndarray, n: int) -> np.ndarray:
    return rng.choice(pool, min(n, len(pool)), replace=False)


class Pages:
    """Generated pages through ``extract_encode`` into both pages
    operators: ``tile_counts`` at level 10, and ``spatial_join`` against
    the city layer that set-up builds with ``build_layer``.  A pass
    materializes each operator's output in turn; ``tile_counts`` has no
    join, refine or driver round, so the per-operator times in the
    traced record tell an extract gain (both) from a join gain (one)."""

    name = "pages"
    # the operator whose Python node is the refine (spark.refine_*)
    refine_op = "spatial_join"

    def __init__(self, seed: int, small: bool = False) -> None:
        self.seed = seed
        self.spec = SMALL["pages"] if small else PAGES
        self.corrupt = False  # self-test: perturb one side of each check
        self.facts: dict = {}  # workload facts for the record

    def generate(self) -> None:
        """Inputs and oracle truth for the seed (untimed), with the
        stratified PIP oracle sample: half uniform over all pages, half
        tagged pages in the loops' boundary band, where the exact refine
        decides."""
        self.dir = inputs.build_pages(self.spec, self.seed)
        t = np.load(os.path.join(self.dir, "truth.npz"))
        self.lat, self.lng, self.tagged = t["lat"], t["lng"], t["tagged"]
        self.loops = inputs.loop_vertices(inputs.LoopsSpec(), self.seed)
        dist = oracles.edge_distance(oracles.xyz(self.lat, self.lng), self.loops)
        lo, hi = oracles.PIP_BAND
        band = np.nonzero(self.tagged & (dist > lo) & (dist < hi))[0]
        rng = np.random.default_rng([self.seed, 99])
        uniform = _sample(rng, np.arange(self.rows), PIP_SAMPLE // 2)
        edge = _sample(rng, np.setdiff1d(band, uniform), PIP_SAMPLE - len(uniform))
        self.sample = np.sort(np.concatenate([uniform, edge]))
        self.facts = {
            "pip_band_pages": len(band),
            "pip_sample": len(self.sample),
            "pip_sample_boundary": int(np.count_nonzero(
                self.tagged[self.sample] & (dist[self.sample] < hi)
            )),
        }

    @property
    def rows(self) -> int:
        """Input rows one pass processes (the rows_per_s numerator)."""
        return self.spec.n_pages

    def params(self) -> dict:
        return {"pages": self.spec.__dict__, "loops": len(self.loops)}

    def load(self, spark) -> None:
        self.pages = spark.read.parquet(os.path.join(self.dir, "pages"))

    def prepare(self, spark) -> None:
        from geo_spark.kernel.regions import LoopRegion
        from geo_spark.operators.spatial_join import build_layer

        regions = [(g + 1, LoopRegion.from_vertices(v)) for g, v in enumerate(self.loops)]
        self.layer = build_layer(spark, regions, max_cells=8)

    @property
    def ops(self) -> dict:
        """Operator name -> the call whose DataFrame a pass materializes."""
        return {"tile_counts": self.tiles, "spatial_join": self.join}

    def tiles(self):
        from geo_spark.operators.tiling import tile_counts
        from geo_spark.sources.extract import extract_encode

        return tile_counts(extract_encode(self.pages), TILE_LEVEL, sort=False)

    def join(self):
        from geo_spark.operators.spatial_join import spatial_join
        from geo_spark.sources.extract import extract_encode

        return spatial_join(
            extract_encode(self.pages, keep=("url",)),
            self.layer,
            point_key="url",
            latlng=("lat", "lng"),
        )

    def check(self, pdfs: dict) -> list[str]:
        return self._check_tiles(pdfs["tile_counts"]) + self._check_pip(pdfs["spatial_join"])

    def _check_tiles(self, pdf) -> list[str]:
        ok = self.tagged
        want = oracles.tile_digest(self.lat[ok], self.lng[ok], TILE_LEVEL)
        if self.corrupt:
            want[0] = (want[0][0], want[0][1] + 1)
        return oracles.check_tiles(
            want, pdf["tile"].to_numpy(), pdf["cnt"].to_numpy(), TILE_LEVEL
        )

    def _check_pip(self, pdf) -> list[str]:
        sample = self.sample
        page = pdf["url"].str.rsplit("/", n=1).str[-1].astype(np.int64).to_numpy()
        geom = pdf["geom_id"].to_numpy()
        keep = np.isin(page, sample)
        pairs: dict[int, set[int]] = {}
        for p, g in zip(page[keep], geom[keep]):
            pairs.setdefault(int(p), set()).add(int(g))
        if self.corrupt:
            victim = int(sample[np.nonzero(self.tagged[sample])[0][0]])
            pairs[victim] = pairs.get(victim, set()) ^ {len(self.loops)}
        return oracles.check_pip(
            sample, self.lat, self.lng, self.tagged, self.loops, pairs
        )

    def kernel_inputs(self) -> dict:
        """Inputs of the Spark-free kernel timings (see kernels.py)."""
        html = pq.read_table(
            os.path.join(self.dir, "pages", "part-000.parquet"), columns=["html"]
        ).column("html")
        return {
            "html": html.combine_chunks(),
            "lat": self.lat,
            "lng": self.lng,
            "loops": self.loops,
            "level": TILE_LEVEL,
        }


class KnnBroadcast:
    """Query points x targets through ``knn_join``.  Between 4096 and
    500k targets the operator takes its closure-shipped broadcast-ring
    tier: one map-only Python pass whose cost is the per-cell ring loop."""

    name = "knn_broadcast"
    refine_op = "knn_join"

    def __init__(self, seed: int, small: bool = False) -> None:
        self.seed = seed
        self.points = SMALL["points"] if small else KNN_POINTS
        self.targets = SMALL["targets"] if small else KNN_TARGETS
        self.corrupt = False
        self.facts: dict = {}

    def generate(self) -> None:
        self.dir = inputs.build_knn(self.points, self.targets, self.seed)
        p, t = (
            pq.read_table(os.path.join(self.dir, name)) for name in ("points", "targets")
        )
        self.lat, self.lng = p["lat"].to_numpy(), p["lng"].to_numpy()
        self.tids = t["tid"].to_numpy()
        self.tpts = oracles.xyz(t["lat"].to_numpy(), t["lng"].to_numpy())
        rng = np.random.default_rng([self.seed, 98])
        self.sample = np.sort(_sample(rng, np.arange(self.rows), KNN_SAMPLE))

    @property
    def rows(self) -> int:
        return self.points.n

    def params(self) -> dict:
        return {"points": self.points.__dict__, "targets": self.targets.__dict__, "k": KNN_K}

    def load(self, spark) -> None:
        self.pts_df = spark.read.parquet(os.path.join(self.dir, "points"))
        self.tgt_df = spark.read.parquet(os.path.join(self.dir, "targets"))

    def prepare(self, spark) -> None:
        """Targets are prepared inside every ``knn_join`` call."""

    @property
    def ops(self) -> dict:
        return {"knn_join": self.knn}

    def knn(self):
        from geo_spark.operators.knn import knn_join

        return knn_join(self.pts_df, self.tgt_df, KNN_K, point_key="pid", target_key="tid")

    def check(self, pdfs: dict) -> list[str]:
        pdf = pdfs["knn_join"]
        pdf = pdf[pdf["pid"].isin(self.sample)].sort_values(["pid", "rank"])
        got = {int(p): g["tid"].tolist() for p, g in pdf.groupby("pid")}
        if self.corrupt:
            first = int(self.sample[0])
            got[first] = got.get(first, [])[::-1]
        pts = oracles.xyz(self.lat, self.lng)
        return oracles.check_knn(self.sample, pts, self.tpts, self.tids, KNN_K, got)

    def kernel_inputs(self) -> dict:
        html = inputs.pages_table(SMALL["pages"], self.seed)[0].column("html")
        return {
            "html": html.combine_chunks(),
            "lat": self.lat,
            "lng": self.lng,
            "loops": inputs.loop_vertices(inputs.LoopsSpec(), self.seed),
            # the broadcast-ring tier's bucket level for this many targets
            "level": max(0, min(30, int(np.log2(max(self.targets.n / 288, 1)) / 2))),
        }


WORKLOADS = {w.name: w for w in (Pages, KnnBroadcast)}
