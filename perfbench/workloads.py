"""The benchmark's workloads.

Each workload has the same shape:

- ``prepare``: write the seeded inputs and register them (set-up);
- ``warm_up``: one trivial query over the inputs (set-up);
- ``iteration``: one timed pass, from the input relation until every
  terminal output is written, calling the engine exactly as a user
  would (``run_pipeline`` / the registry's query callables);
- ``check``: output checks, outside the timed region;
- ``traced``: the same work rebuilt from the engine's public functions,
  in the engine's order, each layer materialised behind
  ``checkpoint.cut_lineage`` and timed under its own Spark job group.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import sys
import time

from harness import digest_pandas, dir_bytes

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")
DEFAULT_SEED = 0


def load_expected(workload: str, seed: int) -> dict | None:
    if seed != DEFAULT_SEED:
        return None
    with open(EXPECTED_PATH) as f:
        return json.load(f).get(workload)


def compare_expected(expected: dict | None, digests: dict) -> list[str]:
    if expected is None:
        return []
    return [
        f"{name}: {digests.get(name)} != expected {want}"
        for name, want in expected.items()
        if digests.get(name) != want
    ]


def _read_parquet_dir(path: str):
    """A published table as pandas, with input paths reduced to their
    file names so digests do not depend on where the checkout lives."""
    import pyarrow.parquet as pq

    pdf = pq.read_table(path).to_pandas()
    if "timelapse_id" in pdf.columns:
        pdf["timelapse_id"] = pdf["timelapse_id"].map(os.path.basename)
    return pdf


def _distinct(df, col: str) -> set:
    return {r[0] for r in df.select(col).distinct().collect()}


# ------------------------------------------------------------ cellphe_tiff


class CellpheTiff:
    """Baseline TIFFs read through ``scan_images``, Otsu segmentation,
    replicated parquet cuts, ``summary`` and ``timeseries`` published
    as parquet."""

    name = "cellphe_tiff"
    n_files, n_frames, size, n_cells = 2, 16, 256, 60
    outputs = ("summary", "timeseries")
    check_each_iteration = True

    def __init__(self, run):
        self.run = run
        self.input_dir = run.path("input")
        self.stages: dict[int, dict] = {}  # run_pipeline's stages, per iteration
        self.cells_out: int | None = None

    # -- set-up
    def prepare(self) -> None:
        from inputs import make_tiff_timelapses, write_tiff_timelapses

        shutil.rmtree(self.input_dir, ignore_errors=True)
        write_tiff_timelapses(
            make_tiff_timelapses(self.run.seed, self.n_files, self.n_frames, self.size, self.n_cells),
            self.input_dir,
        )

    def binaries(self):
        from cellphe_data_pipeline_spark.domain.images import scan_images

        return scan_images(self.run.spark, self.input_dir, glob="*.tiff").select("path", "content")

    def warm_up(self) -> None:
        self.binaries().select("path").write.format("noop").mode("overwrite").save()

    # -- timed pass
    def _pipeline_kwargs(self) -> dict:
        return {"segmentation_method": "otsu", "cc_shuffle_partitions": "auto"}

    def iteration(self, i: int) -> dict:
        from cellphe_data_pipeline_spark.checkpoint import CHECKPOINT_DIR_ENV
        from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline
        from cellphe_data_pipeline_spark.sources.io import publish

        os.environ[CHECKPOINT_DIR_ENV] = self.run.path(f"ck/{i}")
        out_dir = self.run.path(f"out/{i}")
        t0 = time.perf_counter()
        out = run_pipeline(self.binaries(), **self._pipeline_kwargs())
        t1 = time.perf_counter()
        for name in self.outputs:
            publish(out[name], os.path.join(out_dir, name))
        t2 = time.perf_counter()
        self.stages[i] = out
        return {"build_s": t1 - t0, "sink_s": t2 - t1}

    # -- checks
    def outputs_of(self, i: int) -> dict:
        return {
            name: _read_parquet_dir(self.run.path(f"out/{i}/{name}")) for name in self.outputs
        }

    def invariants(self, frames: dict, qc_tracks: set, cells_out: int) -> list[str]:
        s, ts = frames["summary"], frames["timeseries"]
        problems = []
        if not len(s) or not len(ts):
            problems.append(f"empty output: summary={len(s)} timeseries={len(ts)}")
        if s["id"].duplicated().any():
            problems.append("summary spot ids are not unique")
        if ts["TRACK_ID"].duplicated().any():
            problems.append("timeseries has more than one row per TRACK_ID")
        if set(ts["TRACK_ID"]) != qc_tracks:
            problems.append("timeseries TRACK_IDs differ from the QC-surviving tracks")
        if not set(s["TRACK_ID"]) <= qc_tracks:
            problems.append("summary holds tracks that did not survive QC")
        if len(s) > cells_out:
            problems.append(f"summary rows {len(s)} > features.cells_out {cells_out}")
        return problems

    def check(self, i: int) -> tuple[dict, list[str]]:
        """Digests and invariants of the published outputs. The QC-
        surviving tracks come from the iteration's own cut; the M4 row
        count (``features.cells_out``) is counted once per process,
        because counting it re-runs the M4 kernel and the inputs do not
        change between iterations."""
        out = self.stages.pop(i)
        qc_tracks = _distinct(out["spots_filtered"], "TRACK_ID")
        if self.cells_out is None:
            self.cells_out = out["features"].count()
        frames = self.outputs_of(i)
        digests = {name: digest_pandas(df) for name, df in frames.items()}
        problems = self.invariants(frames, qc_tracks, self.cells_out)
        problems += compare_expected(load_expected(self.name, self.run.seed), digests)
        return digests, problems

    def cleanup(self, i: int) -> None:
        self.stages.pop(i, None)
        for sub in ("ck", "out"):
            shutil.rmtree(self.run.path(f"{sub}/{i}"), ignore_errors=True)

    def cut_stats(self, i: int) -> dict:
        ck = self.run.path(f"ck/{i}")
        return {
            "checkpoint.cuts": len(os.listdir(ck)) if os.path.isdir(ck) else 0,
            "checkpoint.bytes_written": dir_bytes(ck),
        }

    # -- traced composition (mirrors plans/pipeline.run_pipeline)
    def traced(self, t) -> dict:
        from cellphe_data_pipeline_spark.checkpoint import CHECKPOINT_DIR_ENV
        from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline

        kw = {
            k: p.default
            for k, p in inspect.signature(run_pipeline).parameters.items()
            if p.default is not inspect.Parameter.empty
        }
        kw.update(self._pipeline_kwargs())
        os.environ[CHECKPOINT_DIR_ENV] = self.run.path("ck/traced")
        out_dir = self.run.path("out/traced")
        with t.root():
            summary, timeseries, filtered = self._traced_stages(t, kw, out_dir)
        t.attrs["qc_filters.keep_ratio"] = t.rows("qc_filters.filter_size_and_observations") / max(
            t.rows("pipeline.spots"), 1
        )
        t.attrs["features.cells_in"] = t.rows("qc_filters.filter_size_and_observations")
        t.attrs["features.cells_out"] = t.rows("features.static_features_fused")
        frames = {name: _read_parquet_dir(os.path.join(out_dir, name)) for name in self.outputs}
        problems = self.invariants(
            frames, _distinct(filtered, "TRACK_ID"), t.attrs["features.cells_out"]
        )
        return {name: digest_pandas(df) for name, df in frames.items()}, problems

    def _traced_stages(self, t, kw, out_dir):
        from pyspark.sql import functions as F

        from cellphe_data_pipeline_spark.domain.features import static_features_fused
        from cellphe_data_pipeline_spark.domain.images import decode_segment_centroid
        from cellphe_data_pipeline_spark.domain.lineage import renumber_tracks
        from cellphe_data_pipeline_spark.domain.tracking import track_detections
        from cellphe_data_pipeline_spark.operators.joins import density_self_join
        from cellphe_data_pipeline_spark.operators.movement import movement_features
        from cellphe_data_pipeline_spark.operators.qc_filters import (
            filter_size_and_observations,
        )
        from cellphe_data_pipeline_spark.operators.timeseries import (
            timeseries_features_multi,
        )
        from cellphe_data_pipeline_spark.plans.pipeline import DEFAULT_QC
        from cellphe_data_pipeline_spark.sources.io import publish

        spark = self.run.spark
        low21 = F.lit((1 << 21) - 1)
        binaries = self.binaries()
        fused = t.stage(
            "images.decode_segment_centroid",
            lambda: decode_segment_centroid(binaries, method=kw["segmentation_method"]),
        )

        def detections():
            paths = sorted(r["path"] for r in binaries.select("path").distinct().collect())
            tl_dim = spark.createDataFrame(
                [(p, i) for i, p in enumerate(paths, start=1)], "path string, _tl_idx long"
            )
            cents = fused.select("path", "frame_index", F.explode("cents").alias("_c"))
            return cents.join(F.broadcast(tl_dim), "path").select(
                F.col("path").alias("timelapse_id"),
                (
                    F.shiftleft(F.col("_tl_idx"), 42)
                    + F.shiftleft(F.col("frame_index").cast("long"), 21)
                    + F.col("_c.mask_id")
                    + F.coalesce(
                        F.assert_true(
                            (F.col("frame_index") < (1 << 21)) & (F.col("_c.mask_id") < (1 << 21))
                        ).cast("long"),
                        F.lit(0).cast("long"),
                    )
                ).alias("id"),
                F.col("frame_index").alias("frame"),
                F.col("_c.cx").alias("x"),
                F.col("_c.cy").alias("y"),
                F.col("_c.area").alias("area"),
                F.col("_c.mask_id").alias("mask_id"),
            )

        dets = t.stage("pipeline.detections", detections)
        edges = t.stage(
            "tracking.track_detections",
            lambda: track_detections(
                dets,
                linking_max_distance=kw["linking_max_distance"],
                max_frame_gap=kw["max_frame_gap"],
                gap_closing_max_distance=kw["gap_closing_max_distance"],
                method=kw["tracking_method"],
                gap_strategy=kw["tracking_gap_strategy"],
                allow_splitting=kw["allow_splitting"],
                splitting_max_distance=kw["splitting_max_distance"],
                allow_merging=kw["allow_merging"],
                merging_max_distance=kw["merging_max_distance"],
                alternative_cost_factor=kw["alternative_cost_factor"],
                cutoff_percentile=kw["cutoff_percentile"],
            ),
        )
        tracks = t.stage(
            "lineage.renumber_tracks",
            lambda: renumber_tracks(
                dets.select(F.col("id").alias("ID"), F.col("frame").alias("FRAME")),
                edges.select("src", "dst"),
                loop_shuffle_partitions=kw["cc_shuffle_partitions"],
            ),
        )
        spots = t.stage(
            "pipeline.spots",
            lambda: dets.join(tracks.withColumnRenamed("ID", "id").drop("FRAME"), "id").select(
                "timelapse_id",
                "id",
                "frame",
                "TRACK_ID",
                "x",
                "y",
                F.col("area").cast("double").alias("AREA"),
            ),
        )
        qc = {**DEFAULT_QC, **(kw["qc"] or {})}
        filtered = t.stage(
            "qc_filters.filter_size_and_observations",
            lambda: filter_size_and_observations(
                spots,
                area_col="AREA",
                key="TRACK_ID",
                minimum_cell_size=qc["minimum_cell_size"],
                minimum_observations=qc["minimum_observations"],
            ),
        )
        movement = t.stage(
            "movement.movement_features",
            lambda: movement_features(filtered, key="TRACK_ID", order=["frame", "id"], x="x", y="y"),
        )
        timeseries = t.stage(
            "timeseries.timeseries_features_multi",
            lambda: timeseries_features_multi(
                movement.select("TRACK_ID", "frame", "id", "Dis", "Trac", "D2T", "Vel"),
                key="TRACK_ID",
                order=["frame", "id"],
                values=["Dis", "Trac", "D2T", "Vel"],
            ),
        )
        keep = filtered.select(
            F.col("timelapse_id").alias("path"),
            F.col("frame").alias("FrameID"),
            F.col("id").bitwiseAND(low21).cast("int").alias("CellID"),
            "TRACK_ID",
        )
        features = t.stage(
            "features.static_features_fused", lambda: static_features_fused(fused, keep)
        )
        dens = t.stage(
            "joins.density_self_join",
            lambda: density_self_join(
                filtered.withColumn(
                    "_fkey", F.concat_ws("#", F.col("timelapse_id"), F.col("frame"))
                ).select("_fkey", "id", "x", "y"),
                frame_col="_fkey",
                x_col="x",
                y_col="y",
                id_col="id",
                radius=kw["density_radius"],
            ).select("id", F.col("density").cast("double").alias("dens")),
        )
        summary = t.stage(
            "pipeline.summary",
            lambda: movement.select(
                "timelapse_id",
                "id",
                "frame",
                "TRACK_ID",
                F.col("id").bitwiseAND(low21).cast("int").alias("CellID"),
                "Dis",
                "Trac",
                "D2T",
                "Vel",
            )
            .join(
                features.withColumnsRenamed({"path": "timelapse_id", "FrameID": "frame"}),
                ["timelapse_id", "frame", "CellID"],
            )
            .join(dens, "id"),
        )
        with t.layer("io.publish") as sp:
            publish(summary, os.path.join(out_dir, "summary"))
            publish(timeseries, os.path.join(out_dir, "timeseries"))
            sp.attrs["bytes_written"] = dir_bytes(out_dir)
        return summary, timeseries, filtered


# ------------------------------------------------------------ corpus_dedup

CORPUS_QUERIES = ("c24_corpus_pipeline", "d3_minhash_near_dups", "d10_incremental_neardup")


class CorpusDedup:
    """``c24_corpus_pipeline``, then ``d3_minhash_near_dups``, then
    ``d10_incremental_neardup`` over a seeded documents table, each to
    the noop sink."""

    name = "corpus_dedup"
    n_docs = 1000
    outputs = CORPUS_QUERIES
    check_each_iteration = False

    def __init__(self, run):
        self.run = run
        self.table_dir = run.path("tables")

    def prepare(self) -> None:
        from inputs import write_documents

        shutil.rmtree(self.table_dir, ignore_errors=True)
        write_documents(self.run.seed, self.n_docs, self.table_dir)

    def warm_up(self) -> None:
        from cellphe_data_pipeline_spark.sources.tables import load_table

        load_table(self.run.spark, self.table_dir, "documents").select("doc_id").write.format(
            "noop"
        ).mode("overwrite").save()

    def _queries(self):
        import __spark_entry__

        qs = __spark_entry__.queries()
        return {name: qs[name] for name in CORPUS_QUERIES}

    def iteration(self, i: int) -> dict:
        build = sink = 0.0
        for fn in self._queries().values():
            t0 = time.perf_counter()
            df = fn(self.run.spark, self.table_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build += t1 - t0
            sink += t2 - t1
        return {"build_s": build, "sink_s": sink}

    def check(self, i: int) -> tuple[dict, list[str]]:
        """Each query's rows against its DuckDB oracle, compared the way
        ``scripts/verify_local.py`` compares them."""
        import duckdb

        sys.path.insert(0, os.path.join(self.run.root, "scripts"))
        import __spark_entry__
        import verify_local

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        path = os.path.join(self.table_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        digests, problems = {}, []
        for name, fn in self._queries().items():
            s_pdf = fn(self.run.spark, self.table_dir).toPandas()
            d_pdf = con.execute(oracles[name]).df()
            digests[name] = digest_pandas(s_pdf)
            if len(s_pdf) != len(d_pdf):
                problems.append(f"{name}: rows spark={len(s_pdf)} oracle={len(d_pdf)}")
            elif sorted(s_pdf.columns) != sorted(d_pdf.columns):
                problems.append(f"{name}: columns differ from the oracle")
            elif verify_local.canon(s_pdf) != verify_local.canon(d_pdf):
                problems.append(f"{name}: values differ from the oracle")
        con.close()
        problems += compare_expected(load_expected(self.name, self.run.seed), digests)
        return digests, problems

    def cleanup(self, i: int) -> None:
        pass

    def cut_stats(self, i: int) -> dict:
        # default local cuts: nothing is written to a replicated directory
        return {"checkpoint.cuts": 0, "checkpoint.bytes_written": 0}

    # -- traced composition (mirrors queries.c24 / d3 / d10)
    def traced(self, t) -> dict:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from cellphe_data_pipeline_spark.functions.scalars import portable_hash64
        from cellphe_data_pipeline_spark.operators.dedup import (
            dedup_clusters,
            flag_contaminated,
            minhash_near_duplicates,
        )
        from cellphe_data_pipeline_spark.operators.text import (
            gopher_rules,
            html_to_text,
            pack_context_windows,
        )
        from cellphe_data_pipeline_spark.queries import _c24_injected_corpus

        spark = self.run.spark
        qs = self._queries()
        out = {}
        with t.root():
            docs, aug = _c24_injected_corpus(spark, self.table_dir)
            clean = t.stage("text.html_to_text", lambda: html_to_text(aug, keep_cols=["source"]))
            curated = t.stage(
                "text.gopher_rules",
                lambda: gopher_rules(
                    clean, text_col="text_clean", keep_cols=["source", "text_clean"], gate_mask=63
                ).select("doc_id", "source", "text_clean"),
            )
            w = Window.partitionBy(F.md5(F.col("text_clean"))).orderBy("doc_id")
            deduped = t.stage(
                "c24.exact_dedup",
                lambda: curated.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn"),
            )
            contam = t.stage(
                "dedup.flag_contaminated",
                lambda: flag_contaminated(
                    docs.filter(F.col("doc_id") >= 20), docs.filter(F.col("doc_id") < 20), n=4
                ).select("doc_id"),
            )
            pairs = t.stage("dedup.minhash_near_duplicates", lambda: minhash_near_duplicates(docs))
            clusters = t.stage(
                "dedup.dedup_clusters",
                lambda: dedup_clusters(pairs, loop_shuffle_partitions="auto").select(
                    "doc_id", "cluster_id"
                ),
            )

            def staged():
                corpus = (
                    deduped.filter(F.col("doc_id") >= 20)
                    .join(F.broadcast(contam), "doc_id", "left_anti")
                    .join(F.broadcast(clusters), "doc_id", "left")
                )
                key = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
                split = F.when(
                    portable_hash64(key.cast("string"), seed="leak1-") % 10000 < 9000, "train"
                ).otherwise("val")
                return corpus.select(
                    "doc_id",
                    F.concat_ws("/", split, F.col("source")).alias("source"),
                    F.col("text_clean").alias("text"),
                )

            split_docs = t.stage("c24.split", staged)
            out["c24_corpus_pipeline"] = t.stage(
                "text.pack_context_windows",
                lambda: pack_context_windows(split_docs, window_tokens=512),
            )
            for name in ("d3_minhash_near_dups", "d10_incremental_neardup"):
                out[name] = t.stage(f"registry.{name}", lambda fn=qs[name]: fn(spark, self.table_dir))
        return {name: digest_pandas(df.toPandas()) for name, df in out.items()}, []


WORKLOADS = {cls.name: cls for cls in (CellpheTiff, CorpusDedup)}
