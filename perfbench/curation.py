"""``curation``: LLM corpus curation over a corpus with planted defects.

One repetition runs ``curate_corpus`` (normalize, quality filter, exact
dedup, MinHash-LSH near dedup with connected components, benchmark
decontamination, split) and writes the curated corpus and the stage
report.  The outputs are checked against the survivors planted by
``gen_corpus``.  The result cache, MetricQuery and the pipelines are not on
this path.

``curate_corpus`` is one lazy plan, so its stages cannot be timed from
outside.  The traced run therefore also rebuilds the same composition from
the public operators with every stage materialized, which gives
``operators.<stage>_s`` and ``operators.rows_out.<stage>``.
"""

from __future__ import annotations

import os
import time

import gen_corpus

# staged output -> the curate_corpus report row it must equal
STAGE_SURVIVORS = {
    "normalize": "normalized", "quality": "quality", "exact_dedup": "exact_dedup",
    "connected_components": "near_dedup", "decontaminate": "decontaminated", "split": "decontaminated",
}
# curate_corpus defaults
MIN_TOKENS, MIN_QUALITY, NEAR_DUP, CONTAMINATION = 5, 0.3, 0.7, 0.8
SPLITS, SPLIT_SEED = {"train": 0.9, "val": 0.05, "test": 0.05}, "curate"


class Curation:
    batch = True

    def __init__(self, h):
        self.h = h
        self.rep = 0
        self.outputs: list[tuple[str, str | None]] = []  # (out dir, error)
        self.stages: dict[str, float] = {}

    def generate(self, inputs_dir: str) -> None:
        self.spec = gen_corpus.generate(os.path.join(inputs_dir, "corpus"), self.h.seed)

    def _inputs(self):
        from magi_etl_spark.tables import load_table

        d = os.path.dirname(self.spec["docs"])
        with self.h.tracer.span("tables.load_table"):
            docs = load_table(self.h.spark, d, "docs")
        with self.h.tracer.span("tables.load_table"):
            bench = load_table(self.h.spark, d, "bench")
        return docs, bench

    def run_once(self) -> tuple[float, list[float]]:
        from magi_etl_spark import sinks
        from magi_etl_spark.pipelines.curation import curate_corpus

        h = self.h
        op_id = f"rep{self.rep}"
        self.rep += 1
        out = h.fresh_dir("curation")
        err = None
        t0 = time.perf_counter()
        with h.tracer.span("op.curate", op=op_id), h.jobs.op(op_id):
            try:
                docs, bench = self._inputs()
                with h.tracer.span("operators.curate_corpus"):
                    curated, report = curate_corpus(docs, bench=bench)
                sinks.write_parquet(curated, os.path.join(out, "curated"))
                sinks.write_parquet(report, os.path.join(out, "report"))
            except Exception as e:  # a failed run is counted, not fatal
                err = repr(e)
                h.log(f"curation {op_id} failed: {err}")
        wall = time.perf_counter() - t0
        self.outputs.append((out, err))
        # the operators persist intermediates; a batch run ends its process
        h.spark.catalog.clearCache()
        return wall, [wall]

    def check(self) -> tuple[int, int]:
        import pyarrow.parquet as pq

        failed = 0
        for out, err in self.outputs:
            ok = err is None
            if ok:
                cur = pq.read_table(os.path.join(out, "curated")).to_pydict()
                rep = pq.read_table(os.path.join(out, "report")).to_pydict()
                ok = (
                    set(cur["doc_id"]) == self.spec["survivors"]
                    and len(cur["doc_id"]) == len(self.spec["survivors"])
                    and set(cur["split"]) <= set(SPLITS)
                    and dict(zip(rep["stage"], rep["rows"])) == self.spec["expected"]
                )
            if not ok:
                failed += 1
                self.h.log(f"wrong curation output in {out}")
        attempted = len(self.outputs)
        if self.stages:  # the traced run's stage-by-stage rebuild
            attempted += 1
            exp = self.spec["expected"]
            bad = {s: self.stages[f"operators.rows_out.{s}"] for s, e in STAGE_SURVIVORS.items()
                   if self.stages[f"operators.rows_out.{s}"] != exp[e]}
            if bad:
                failed += 1
                self.h.log(f"staged curation counts differ: {bad}")
        return attempted, failed

    def staged(self) -> dict[str, float]:
        """Each stage of curate_corpus on materialized input: seconds, rows
        out, and LSH candidate/verified pair counts."""
        from pyspark.sql import functions as F

        from magi_etl_spark.operators.components import connected_components
        from magi_etl_spark.operators.decontaminate import contamination_pairs
        from magi_etl_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_lsh_dedup,
            minhash_signatures,
        )
        from magi_etl_spark.operators.mixing import split_assign
        from magi_etl_spark.operators.text import normalize_text, quality_scores

        h = self.h
        docs, bench = self._inputs()
        out: dict[str, float] = {}
        frames = []

        def stage(name, build):
            with h.tracer.span(f"operators.{name}", op="staged"):
                t = time.perf_counter()
                df = build().persist()
                n = df.count()
                out[f"operators.{name}_s"] = time.perf_counter() - t
            out[f"operators.rows_out.{name}"] = n
            frames.append(df)
            return df

        norm = stage("normalize", lambda: docs.select(
            "doc_id", normalize_text(F.col("text")).alias("text")).where(F.col("text") != ""))

        def quality():
            q = quality_scores(norm, "doc_id", "text")
            keep = q.where((F.col("n_tokens") >= MIN_TOKENS) & (F.col("quality_score") >= MIN_QUALITY))
            return norm.join(keep.select("doc_id"), "doc_id", "semi")

        qual = stage("quality", quality)

        def exact_dedup():
            hashed = qual.withColumn("_h", F.md5(F.col("text")))
            winners = hashed.groupBy("_h").agg(F.min("doc_id").alias("doc_id"))
            return hashed.join(winners, ["doc_id", "_h"], "semi").drop("_h")

        exact = stage("exact_dedup", exact_dedup)
        pairs = stage("minhash_lsh_dedup", lambda: minhash_lsh_dedup(
            exact, "doc_id", "text", threshold=NEAR_DUP).select("doc_a", "doc_b"))

        def components():
            comps = connected_components(pairs, "doc_a", "doc_b")
            drops = comps.where(F.col("vertex") != F.col("component")).select(F.col("vertex").alias("doc_id"))
            return exact.join(drops, "doc_id", "left_anti")

        near = stage("connected_components", components)

        def decontaminate():
            hit = contamination_pairs(near, bench, threshold=CONTAMINATION).select("doc_id").distinct()
            return near.join(hit, "doc_id", "left_anti")

        clean = stage("decontaminate", decontaminate)
        stage("split", lambda: split_assign(clean, "doc_id", SPLITS, seed=SPLIT_SEED))

        # LSH usefulness: banded candidates (same bands as minhash_lsh_dedup)
        sigs = minhash_signatures(exact, "doc_id", "text")
        cands = lsh_candidate_pairs(sigs, [["m0", "m1"], ["m2", "m3"]]).count()
        verified = out["operators.rows_out.minhash_lsh_dedup"]
        out["operators.lsh_candidates"] = cands
        out["operators.lsh_verified_pairs"] = verified
        out["operators.lsh_precision"] = verified / cands if cands else 0.0
        for df in frames:
            df.unpersist()
        h.spark.catalog.clearCache()
        self.stages = out
        return out
