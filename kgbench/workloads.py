"""The benchmark's workloads. Each drives kgc's public entry points from
one client thread (closed loop: the next iteration starts when the
previous call returns) and checks every iteration's output.

Inputs come from kgc's deterministic generator; the seed picks which
generated documents enter the input (see seed_ranked), and the program
receives only the written parquet. Input size is fixed
per workload, so every seed and every commit measures the same amount of
work.

Each workload also has a traced variant of one iteration: the same
stages called one at a time, each inside a span (see tracing.py), so the
event log can attribute every task to a layer.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgbench import checks
from kgbench.tracing import Tracer
from kgc.sources.synth import n_docs_for


def seed_ranked(seed: int, n_candidates: int) -> list[int]:
    """Generator doc numbers 0..n_candidates-1 in this seed's order
    (blake2b of seed and number). A workload's input is a prefix of it."""
    def key(n: int) -> bytes:
        return hashlib.blake2b(f"{seed}:{n}".encode(), digest_size=8).digest()

    return sorted(range(n_candidates), key=key)


def _write_input(df: DataFrame, path: str) -> None:
    # one file per generator partition (spark.range splits over the session's
    # cores), so the file set is the same for every run on a seed
    df.write.mode("overwrite").parquet(path)


class Workload:
    name = ""
    units = ""  # what one iteration produces, for the throughput metric
    nominal_iter_s = 25.0  # sizes the measured iteration count from --seconds

    def __init__(self, spark: SparkSession, root: str, seed: int):
        self.spark, self.root, self.seed = spark, root, seed
        self.docs_dir = os.path.join(root, "input")

    def prepare(self) -> None:
        """Generate this seed's input parquet (one Spark job)."""
        raise NotImplementedError

    def iterate(self, workdir: str, tag: str, warm: bool = False) -> int:
        """One closed-loop iteration into a fresh `workdir`; returns units."""
        raise NotImplementedError

    def check(self, workdir: str, tag: str, warm: bool = False) -> list[str]:
        raise NotImplementedError

    def finish(self) -> dict[str, str]:
        """Checks that need an expensive reference, run once after the
        timed iterations; returns {iteration tag: error}."""
        return {}

    def traced(self, tr: Tracer, workdir: str) -> dict:
        """One iteration, stage by stage inside spans; returns counters
        that only the Python side knows (predicted pairs, CC rounds...)."""
        raise NotImplementedError

    # -- shared stage shape -------------------------------------------------
    def _stage(self, tr: Tracer, workdir: str, name: str, layer: str, build,
               bucket_by: str | None = None) -> DataFrame:
        """kgc's stage contract, one layer at a time: build and write the
        table (the layer span), re-read it (catalog), then the op-05
        partition-metrics scan, its parquet and the manifest (finalize)."""
        from kgc.plans.metrics import partition_metrics
        from kgc.sources import catalog as cat

        path = os.path.join(workdir, name)
        with tr.span(layer):
            df = build()
            cat.write_table(df, path, bucket_by=bucket_by)
            with tr.span("catalog"):
                out = cat.read_table(self.spark, path)
            with tr.span("finalize"):
                rows = partition_metrics(out, name).collect()
                mdir = os.path.join(workdir, "stage_metrics", name)
                os.makedirs(mdir)
                pq.write_table(pa.table({
                    k: pa.array([r[k] for r in rows], t) for k, t in
                    (("stage", pa.string()), ("partition_id", pa.int32()),
                     ("rows_out", pa.int64()), ("fingerprint", pa.int64()))
                }), os.path.join(mdir, "part-00000.parquet"))
                cat.write_manifest(
                    path, name, f"trace-{self.seed}", int(sum(r["rows_out"] for r in rows)),
                    df.schema.simpleString(),
                )
        return out


class KgBuild(Workload):
    """run_pipeline: the paper's job, docs to KG with attribution,
    Otsuka-Ochiai SIMILAR_TO and RECOMMEND."""

    name = "kg_build"
    units = "triples"
    SF = 0.01  # generator scale: 10k candidate docs, 200 individuals
    N_DOCS = 4000
    WARM_DOCS = 300  # the traced run's warm-up

    def prepare(self) -> None:
        from kgc.sources.synth import synth_documents

        ranked = seed_ranked(self.seed, n_docs_for(self.SF))
        self.ids = [f"doc-{n:010d}" for n in ranked[: self.N_DOCS]]
        _write_input(synth_documents(self.spark, self.SF).filter(F.col("doc_id").isin(self.ids)),
                     self.docs_dir)
        self.docs = self.spark.read.parquet(self.docs_dir)
        self.warm = self.docs.filter(F.col("doc_id").isin(self.ids[: self.WARM_DOCS]))
        self.op05: dict | None = None
        self.got_fp: dict[str, str] = {}
        self.want_fp: str | None = None

    def iterate(self, workdir: str, tag: str, warm: bool = False) -> int:
        from kgc.plans.run import run_pipeline

        run_pipeline(
            self.spark, workdir, self.SF, docs=self.warm if warm else self.docs,
            force=True, input_fp=f"kgbench-{self.seed}-{tag}",
        )
        return checks.manifest_rows(workdir, "triples")

    def check(self, workdir: str, tag: str, warm: bool = False) -> list[str]:
        from kgc.operators.recommend import M_PRODUCTS

        errors = checks.check_kg_build(workdir, M_PRODUCTS)
        if not warm:
            self.got_fp[tag] = checks.triples_fingerprint(
                checks.read(os.path.join(workdir, "triples"), checks.TRIPLE_KEY)
            )
            op05 = checks.op05_digest(workdir)
            if self.op05 is None:
                self.op05 = op05
            elif op05 != self.op05:
                errors.append("op-05 stage fingerprints differ from the first iteration")
        return errors

    def finish(self) -> dict[str, str]:
        """The triples of every checked iteration against the generator's
        closed-form ground truth for the same docs (about 5 s of Spark,
        so it runs once, after the timed iterations)."""
        from kgc.sources.synth import ground_truth_triples

        gt = ground_truth_triples(self.spark, self.SF).join(
            self.docs.select("doc_id"), "doc_id", "left_semi"
        )
        self.want_fp = checks.triples_fingerprint(gt.select(*checks.TRIPLE_KEY).toArrow())
        return {
            tag: f"triples fingerprint {fp} != ground truth {self.want_fp}"
            for tag, fp in self.got_fp.items() if fp != self.want_fp
        }

    def traced(self, tr: Tracer, workdir: str) -> dict:
        from kgc.operators.attribution import attribute
        from kgc.operators.canon import entities_canon_map, salted_dedup
        from kgc.operators.extract import extract_mentions
        from kgc.operators.link import link_mentions, mentions_to_long
        from kgc.operators.recommend import recommend
        from kgc.operators.similarity import (
            AUTO_PAIR_THRESHOLD,
            candidate_pairs_lsh,
            hot_activities,
            select_similarity_mode,
            similar_to_exact,
            touch_items,
        )
        from kgc.operators.spans import explode_spans
        from kgc.operators.triples import assemble_triples, canonical_triples
        from kgc.sources.synth import alias_catalog, alias_edges, part_of_dim

        spark, sf, st = self.spark, self.SF, self._stage
        found: dict = {}
        catalog_df = alias_catalog(spark, sf)
        part_of = part_of_dim(spark)
        docs = st(tr, workdir, "ingest", "ingest", lambda: self.docs, "doc_id")
        mentions = st(tr, workdir, "extract", "extract",
                      lambda: extract_mentions(explode_spans(docs)), "doc_id")
        linked = st(tr, workdir, "link", "link",
                    lambda: link_mentions(mentions_to_long(mentions), catalog_df), "doc_id")
        cc_stats: dict = {}
        canon = st(tr, workdir, "canonicalize", "canon", lambda: entities_canon_map(
            salted_dedup(alias_edges(catalog_df), ["src", "dst"]), stats=cc_stats))
        triples = st(tr, workdir, "triples", "triples",
                     lambda: canonical_triples(assemble_triples(linked), canon), "subj")
        st(tr, workdir, "attribute", "attribution", lambda: attribute(triples, part_of))

        def build_similar():
            items = touch_items(triples).localCheckpoint(eager=True)
            mode, found["pairs_predicted"] = select_similarity_mode(
                triples, AUTO_PAIR_THRESHOLD, items=items
            )
            if mode == "lsh":
                return candidate_pairs_lsh(triples, stoplist=hot_activities(items), items=items)
            return similar_to_exact(triples, dict_encode=True, items=items)

        similar = st(tr, workdir, "similarity", "similarity", build_similar, "ind_a")
        st(tr, workdir, "recommend", "recommend", lambda: recommend(triples, similar))
        found["cc_iterations"] = cc_stats.get("iterations", 0)
        found["pairs_in"] = checks.manifest_rows(workdir, "similarity")
        return found

    def streaming(self, listener_cls) -> dict:
        """The streaming twin over the same docs: the input's four files land
        one at a time, with one availableNow drain after each. The sink must
        equal the batch ground truth. Returns per-drain phase medians."""
        from kgc.streaming.construct import bootstrap_dims, streaming_construct

        spark, src = self.spark, self.docs_dir
        res, canon = bootstrap_dims(spark, self.docs, self.SF)
        land = os.path.join(self.root, "landing")
        sink, ckpt = os.path.join(self.root, "sink"), os.path.join(self.root, "ckpt")
        os.makedirs(land)
        listener = listener_cls()
        spark.streams.addListener(listener)
        files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        drains = []
        try:
            for f in files:
                shutil.copy(os.path.join(src, f), os.path.join(land, f))
                t0 = time.perf_counter()
                out = streaming_construct(spark, land, res, canon, sink, ckpt)
                drains.append(time.perf_counter() - t0)
            deadline = time.time() + 30
            while len(listener.progress) < len(files) and time.time() < deadline:
                time.sleep(0.1)  # progress events arrive on the listener bus
        finally:
            spark.streams.removeListener(listener)
        got = checks.triples_fingerprint(out.select(*checks.TRIPLE_KEY).toArrow())
        if got != self.want_fp:
            raise RuntimeError(f"streaming sink {got} != batch ground truth {self.want_fp}")

        def med(key: str) -> float:
            vals = [p.get(key, 0) / 1e3 for p in listener.progress]
            return statistics.median(vals) if vals else 0.0

        return {
            "streaming.planning_s": med("queryPlanning"),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.wal_commit_s": med("walCommit"),
            "streaming.trigger_s": med("triggerExecution"),
            "streaming.drain_s": statistics.median(drains),
        }


class Curate(Workload):
    """run_curation: quality, exact and near dedup, decontamination and
    packing over the generator's documents flattened to text."""

    name = "curate"
    units = "docs"
    SF = 0.01
    N_DOCS = 3000
    WARM_DOCS = 200  # the traced run's warm-up
    BUDGET = 256  # run_curation's default token budget

    def prepare(self) -> None:
        from kgc.plans.curate import synth_curation_docs

        ranked = seed_ranked(self.seed, n_docs_for(self.SF))
        self.ids, self.warm_ids = set(ranked[: self.N_DOCS]), set(ranked[: self.WARM_DOCS])
        _write_input(synth_curation_docs(self.spark, self.SF).filter(
            F.col("doc_id").isin(ranked[: self.N_DOCS])), self.docs_dir)
        self.docs = self.spark.read.parquet(self.docs_dir)
        self.warm = self.docs.filter(F.col("doc_id").isin(ranked[: self.WARM_DOCS]))

    def iterate(self, workdir: str, tag: str, warm: bool = False) -> int:
        from kgc.plans.curate import run_curation

        run_curation(
            self.spark, workdir, self.warm if warm else self.docs,
            input_fp=f"kgbench-{self.seed}-{tag}", budget=self.BUDGET, force=True,
        )
        return len(self.warm_ids if warm else self.ids)

    def check(self, workdir: str, tag: str, warm: bool = False) -> list[str]:
        return checks.check_curate(workdir, self.warm_ids if warm else self.ids, self.BUDGET)

    def traced(self, tr: Tracer, workdir: str) -> dict:
        """run_curation's stages at its defaults (min_quality 0.1, bench_mod
        23, containment 0.5, no sampling, min-id dedup keep)."""
        from kgc.operators.canon import connected_components
        from kgc.operators.curate import quality_score_col
        from kgc.operators.dedup import contamination_pairs, minhash_banded_pairs
        from kgc.operators.sample import pack_greedy

        st, docs, found = self._stage, self.docs, {}
        rejects: list[DataFrame] = []

        def reject(ids: DataFrame, stage: str, reason) -> None:
            rejects.append(ids.select("doc_id", F.lit(stage).alias("stage"), reason.alias("reason")))

        scored = st(tr, workdir, "quality", "quality", lambda: docs.select(
            "doc_id", *[c for c in docs.columns if c != "doc_id"]
        ).withColumn("quality_score", quality_score_col("text")), "doc_id")
        keep = F.col("quality_score") >= 0.1
        kept_q = scored.filter(keep)
        reject(scored.filter(~keep), "quality",
               F.concat(F.lit("quality_score="), F.col("quality_score").cast("string")))

        def build_exact():
            first = kept_q.groupBy(F.md5("text").alias("_h")).agg(F.min("doc_id").alias("doc_id"))
            return kept_q.join(first.drop("_h"), "doc_id", "left_semi")

        kept_e = st(tr, workdir, "exact_dedup", "dedup", build_exact, "doc_id")
        reject(kept_q.join(kept_e, "doc_id", "left_anti"), "exact_dedup", F.lit("exact_duplicate"))

        def build_near():
            edges = minhash_banded_pairs(kept_e, threshold=0.5).select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            ).localCheckpoint(eager=True)
            with tr.span("probe"):
                found["pairs_emitted"] = edges.count()
            cc_stats: dict = {}
            with tr.span("canon"):
                cc = connected_components(edges, stats=cc_stats)
            found["cc_iterations"] = cc_stats.get("iterations", 0)
            keep_ids = (
                kept_e.select(F.col("doc_id").alias("node")).join(cc, "node", "left")
                .filter(F.col("component").isNull() | (F.col("component") == F.col("node")))
                .select(F.col("node").alias("doc_id"))
            )
            return kept_e.join(keep_ids, "doc_id", "left_semi")

        kept_n = st(tr, workdir, "near_dedup", "dedup", build_near, "doc_id")
        reject(kept_e.join(kept_n, "doc_id", "left_anti"), "near_dedup",
               F.lit("near_duplicate_cluster_member"))

        is_bench = F.pmod(F.col("doc_id"), F.lit(23)) == 0

        def build_decontam():
            pairs = contamination_pairs(kept_n.filter(~is_bench), kept_n.filter(is_bench)).filter(
                F.col("containment") >= 0.5
            )
            with tr.span("probe"):
                found["decontam_pairs"] = pairs.count()
            dirty = pairs.select(F.col("train_id").alias("doc_id")).distinct()
            return kept_n.filter(~is_bench).join(dirty, "doc_id", "left_anti")

        kept_d = st(tr, workdir, "decontam", "decontam", build_decontam, "doc_id")
        reject(kept_n.join(kept_d, "doc_id", "left_anti"), "decontam",
               F.when(is_bench, "benchmark_slice").otherwise("contaminated"))
        st(tr, workdir, "pack", "pack", lambda: pack_greedy(kept_d, budget=self.BUDGET).select(
            "shard_id", F.col("id").alias("doc_id"), "n_tokens", "bin_id"))

        def build_rejects():
            out = rejects[0]
            for r in rejects[1:]:
                out = out.unionByName(r)
            return out

        st(tr, workdir, "rejects", "rejects", build_rejects)
        return found


WORKLOADS = {w.name: w for w in (KgBuild, Curate)}
