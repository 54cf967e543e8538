"""The benchmark workloads.

Each workload has the same life cycle, driven by ``child.py``:

- ``setup()``: generate and materialize the inputs and the static covering
  index (timed, repeated; the last repetition's inputs are kept);
- ``prepare()``: collect the inputs to the driver and compute the input
  digest and the reference output digests with ``oracle`` (not timed);
- ``run_pass(tracer)``: one closed-loop pass from the input table to every
  output produced and digested. With a tracer, the same calls run inside
  spans, each layer in its own Spark job group.

A pass returns ``{output: (digest, frame)}``; ``child.py`` compares each
digest to ``expected`` (the frame, kept for kNN only, feeds the tie check).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
import oracle
from osm_spark.geo.contours import contours, density_raster, tile_density
from osm_spark.geo.knn import knn_join
from osm_spark.geo.tiles import tile_delta, tile_refresh
from osm_spark.pipeline.flagship import run_flagship
from osm_spark.pipeline.geometry import build_way_cells, synth_nodes, synth_polygons
from osm_spark.pipeline.pages import synth_pages
from osm_spark.pipeline.spatial_join import extract_points, pip_join

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
TILE_Z = 12
RASTER_Z = 10
CONTOUR_THRESHOLD = 2.0
KNN_K = 3

# Both workloads read the same pages table: N_DOCS seeded documents,
# each replicated PAGES_MULT times by the engine's synthesizer.
N_DOCS = 500
PAGES_MULT = 100

PIP_COLS = ["url", "way_id"]
KNN_COLS = ["url", "node_id", "rank"]
TILE_COLS = ["z", "x", "y", "n"]
CONTOUR_COLS = ["z", "x", "y", "x1", "y1", "x2", "y2"]
POINT_COLS = ["url", "lat", "lon"]
PAGE_COLS = ["url", "text", "lang"]


def load_pins() -> dict:
    with open(PINS_PATH) as fh:
        return json.load(fh)


def write_documents(seed: int, run_root: str) -> str:
    """Write the seeded documents; returns the directory synth_pages reads."""
    docs_dir = os.path.join(run_root, "input")
    os.makedirs(docs_dir, exist_ok=True)
    inputs.documents(seed, N_DOCS).to_parquet(
        os.path.join(docs_dir, "documents.parquet"), index=False
    )
    return docs_dir


def pages_table(spark, docs_dir: str):
    return synth_pages(spark, docs_dir, PAGES_MULT)


def pin_key(seed: int) -> str:
    return f"pages:docs{N_DOCS}x{PAGES_MULT}:{seed}"


def warm_python_workers(spark) -> None:
    """Start one Python worker per task slot and import pandas/pyarrow in
    each, so the first timed pass does not pay for it."""
    from pyspark.sql.functions import pandas_udf

    slots = spark.sparkContext.defaultParallelism
    ident = pandas_udf(lambda s: s, "double")
    (
        spark.range(slots * 4, numPartitions=slots * 2)
        .select(ident(F.col("id").cast("double")))
        .write.format("noop").mode("overwrite").save()
    )


def tiles_pdf(df) -> pd.DataFrame:
    """tile_density output with its double count as an integer ``n``."""
    pdf = df.toPandas()
    return pdf.assign(n=pdf["density"].round().astype(np.int64))


class Workload:
    name = ""

    def __init__(self, spark, seed: int, run_root: str):
        self.spark = spark
        self.seed = seed
        self.run_root = run_root
        self.layer: dict[str, float] = {}
        self.expected: dict[str, list[int]] = {}
        self.input_rows = 0
        self.input_digest: list[int] = []
        self.cached: list = []
        # walls of calls inside a pass, by metric; cleared after warm-up
        self.walls: dict[str, list[float]] = {}

    def release(self) -> None:
        for df in self.cached:
            df.unpersist(blocking=True)
        self.cached = []

    def materialize(self, df):
        df = df.persist()
        self.cached.append(df)
        return df, df.count()

    def record_wall(self, metric: str, wall: float) -> None:
        self.walls.setdefault(metric, []).append(wall)
        self.layer[metric] = statistics.median(self.walls[metric])

    def pin_status(self) -> str:
        """'match', 'mismatch' or 'unpinned' for this seed and size."""
        pinned = load_pins().get(pin_key(self.seed))
        if pinned is None:
            return "unpinned"
        return "match" if pinned == self.input_digest else "mismatch"

    def check(self, name: str, got: list[int], pdf: pd.DataFrame | None = None) -> bool:
        return got == self.expected[name]


class CityPages(Workload):
    """Pages from the engine's synthesizer, persisted as the input table;
    one pass runs extraction, the PIP join, kNN, tile density and
    contours."""

    name = "city_pages"

    def setup(self) -> None:
        t0 = time.monotonic()
        docs_dir = write_documents(self.seed, self.run_root)
        self.pages, self.input_rows = self.materialize(pages_table(self.spark, docs_dir))
        self.layer["pages.synth_s"] = time.monotonic() - t0
        self.layer["pages.rows"] = self.input_rows
        self.polygons, _ = self.materialize(synth_polygons(self.spark, seed=self.seed))
        self.nodes, _ = self.materialize(synth_nodes(self.spark, seed=self.seed + 1))
        t0 = time.monotonic()
        self.way_cells, n_cells = self.materialize(build_way_cells(self.polygons))
        self.layer["geometry.covering_s"] = time.monotonic() - t0
        self.layer["geometry.covering_cells"] = n_cells
        warm_python_workers(self.spark)

    def prepare(self) -> None:
        pages = self.pages.select(*PAGE_COLS).toPandas()
        self.input_digest = oracle.digest(pages, PAGE_COLS)
        self.ref_points = oracle.extract(pages["url"], pages["text"])
        self.ref_nodes = self.nodes.select("id", "lat", "lon").toPandas()
        polygons = self.polygons.select("way_id", "vlat", "vlon").toPandas()
        lat, lon = self.ref_points["lat"].to_numpy(), self.ref_points["lon"].to_numpy()
        self.expected = {
            "points": oracle.digest(self.ref_points, POINT_COLS),
            "pip": oracle.digest(oracle.pip_pairs(self.ref_points, polygons), PIP_COLS),
            "knn": oracle.digest(oracle.knn(self.ref_points, self.ref_nodes, KNN_K), KNN_COLS),
            "tiles": oracle.digest(oracle.tile_counts(lat, lon, TILE_Z), TILE_COLS),
            "contours": oracle.digest(
                oracle.contour_segments(
                    oracle.pixel_counts(lat, lon, RASTER_Z), CONTOUR_THRESHOLD
                ),
                CONTOUR_COLS,
            ),
        }

    def check(self, name, got, pdf=None):
        if got == self.expected[name]:
            return True
        return name == "knn" and pdf is not None and oracle.knn_agrees(
            pdf, self.ref_points, self.ref_nodes, KNN_K
        )

    def run_pass(self, tr=None) -> dict:
        # Extract once per pass and fan the four outputs out of the
        # persisted points, as a batch job computing them together would.
        outs = {}
        with _maybe(tr, "extract", "extract"):
            pts = extract_points(self.pages).persist()
            pdf = pts.select(*POINT_COLS).toPandas()
            with _maybe(tr, "digest"):
                outs["points"] = (oracle.digest(pdf, POINT_COLS), None)
        self.layer["spatial_join.points_out"] = len(pdf)
        try:
            with _maybe(tr, "pip", "pip"):
                pdf = pip_join(pts, self.polygons, self.way_cells).toPandas()
                with _maybe(tr, "digest"):
                    outs["pip"] = (oracle.digest(pdf, PIP_COLS), None)
            self.layer["spatial_join.pairs_out"] = len(pdf)
            with _maybe(tr, "knn", "knn"):
                pdf = knn_join(pts, self.nodes, k=KNN_K).toPandas()
                with _maybe(tr, "digest"):
                    outs["knn"] = (oracle.digest(pdf, KNN_COLS), pdf)
            self.layer["knn.rows_out"] = len(pdf)
            with _maybe(tr, "tile_density", "tiles"):
                pdf = tiles_pdf(tile_density(pts, TILE_Z))
                with _maybe(tr, "digest"):
                    outs["tiles"] = (oracle.digest(pdf, TILE_COLS), None)
            self.layer["contours.tiles_out"] = len(pdf)
            with _maybe(tr, "contours", "tiles"):
                raster = density_raster(pts, RASTER_Z)
                pdf = contours(raster, threshold=CONTOUR_THRESHOLD).toPandas()
                with _maybe(tr, "digest"):
                    outs["contours"] = (oracle.digest(pdf, CONTOUR_COLS), None)
        finally:
            pts.unpersist(blocking=True)
        return outs


class CheckpointedJob(Workload):
    """run_flagship into an empty out dir, a resume after losing the pip
    and tiles checkpoints, and an incremental tile refresh."""

    name = "checkpointed_job"
    STAGES = ("pages", "points", "way_cells", "pip", "tiles")

    def setup(self) -> None:
        # The pages, points and covering are stages of the job itself, so
        # set-up only writes the documents and warms the Python workers.
        self.docs_dir = write_documents(self.seed, self.run_root)
        warm_python_workers(self.spark)
        self.passes = 0

    def prepare(self) -> None:
        pages = pages_table(self.spark, self.docs_dir).select(*PAGE_COLS).toPandas()
        self.input_rows = len(pages)
        self.layer["pages.rows"] = self.input_rows
        self.input_digest = oracle.digest(pages, PAGE_COLS)
        points = oracle.extract(pages["url"], pages["text"])
        polygons = synth_polygons(self.spark).select("way_id", "vlat", "vlon").toPandas()
        lat, lon = points["lat"].to_numpy(), points["lon"].to_numpy()
        cdc = inputs.cdc_batch(self.seed, lat, lon)
        self.changes, _ = self.materialize(
            self.spark.createDataFrame(cdc, "lat double, lon double, op int")
        )
        self.layer["tiles.delta_rows"] = len(cdc)
        pip = oracle.digest(oracle.pip_pairs(points, polygons), PIP_COLS)
        tiles = oracle.digest(oracle.tile_counts(lat, lon, TILE_Z), TILE_COLS)
        # refresh must equal a recompute over the points after the batch
        after = oracle.tile_counts(
            np.concatenate([lat, cdc["lat"]]),
            np.concatenate([lon, cdc["lon"]]),
            TILE_Z,
            weight=np.concatenate([np.ones(len(lat), np.int64), cdc["op"]]),
        )
        self.expected = {
            "pages": self.input_digest,
            "pip": pip,
            "tiles": tiles,
            "resume_pip": pip,
            "resume_tiles": tiles,
            "refresh": oracle.digest(after, TILE_COLS),
        }

    def _stage_outputs(self, res: dict, prefix: str, outs: dict, tr) -> None:
        with _maybe(tr, "digest"):
            pip = res["pip"].df.toPandas()
            outs[prefix + "pip"] = (oracle.digest(pip, PIP_COLS), None)
            outs[prefix + "tiles"] = (oracle.digest(tiles_pdf(res["tiles"].df), TILE_COLS), None)
        self.layer["spatial_join.pairs_out"] = len(pip)

    def run_pass(self, tr=None) -> dict:
        out_dir = os.path.join(self.run_root, "ckpt", f"pass{self.passes}")
        self.passes += 1
        shutil.rmtree(out_dir, ignore_errors=True)
        outs: dict = {}
        try:
            with _maybe(tr, "run_flagship", "lineage"):
                res = run_flagship(self.spark, self.docs_dir, out_dir, multiplier=PAGES_MULT, zoom=TILE_Z)
                with _maybe(tr, "digest"):
                    pages = pq.read_table(
                        os.path.join(out_dir, "stages", "pages"), columns=PAGE_COLS
                    ).to_pandas()
                    outs["pages"] = (oracle.digest(pages, PAGE_COLS), None)
                self._stage_outputs(res, "", outs, tr)
            if tr is not None:
                self._record_lineage(res, out_dir)
            for stage in ("pip", "tiles"):
                shutil.rmtree(os.path.join(out_dir, "stages", stage))
            t0 = time.monotonic()
            with _maybe(tr, "resume", "lineage"):
                res = run_flagship(self.spark, self.docs_dir, out_dir, multiplier=PAGES_MULT, zoom=TILE_Z)
                self._stage_outputs(res, "resume_", outs, tr)
            self.record_wall("lineage.resume_s", time.monotonic() - t0)
            self.layer["lineage.resume_skipped"] = sum(res[s].skipped for s in self.STAGES)
            t0 = time.monotonic()
            with _maybe(tr, "refresh", "tiles"):
                base = res["tiles"].df.select(
                    "z", "x", "y", F.col("density").cast("long").alias("n")
                )
                pdf = tile_refresh(base, tile_delta(self.changes, TILE_Z)).toPandas()
                with _maybe(tr, "digest"):
                    outs["refresh"] = (oracle.digest(pdf, TILE_COLS), None)
            self.record_wall("tiles.refresh_s", time.monotonic() - t0)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
        return outs

    def _record_lineage(self, res: dict, out_dir: str) -> None:
        for s in self.STAGES:
            self.layer[f"lineage.stage_s.{s}"] = res[s].wall_ms / 1000.0
        # page synthesis and the covering index are stages of this job
        self.layer["pages.synth_s"] = self.layer["lineage.stage_s.pages"]
        self.layer["geometry.covering_s"] = res["way_cells"].wall_ms / 1000.0
        self.layer["geometry.covering_cells"] = res["way_cells"].output_rows
        self.layer["spatial_join.points_out"] = res["points"].output_rows
        n_bytes = n_files = 0
        for root, _dirs, files in os.walk(out_dir):
            for fn in files:
                if fn.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, fn))
        self.layer["lineage.bytes_written"] = n_bytes
        self.layer["lineage.files_written"] = n_files


def _maybe(tr, name: str, group: str | None = None):
    """A span when tracing, otherwise nothing."""
    return nullcontext() if tr is None else tr.span(name, group)


WORKLOADS = {w.name: w for w in (CityPages, CheckpointedJob)}
