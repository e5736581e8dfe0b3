"""corpus_prep: the corpus stage of the batch_etl workload (see batch.py).

Runs prepare_corpus (language and quality gates, exact dedup, MinHash-LSH
near-dup removal, greedy packing) over generated documents and writes the
packed corpus with write_table. In traced runs the
benchmark calls the pipeline's default stages one by one and materializes
each stage at its boundary, so every stage gets its own span.

Checks per job, on the written table against the generator's truth:
survivors are input documents with their text unchanged; no two
survivors are equal after normalization; each planted duplicate cluster
of a kept language has exactly one survivor and no other language
survives; packs respect the token budget except a single oversized
document; n_tokens is the whitespace token count.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from pathlib import Path
from types import SimpleNamespace

import pyarrow.parquet as pq

from perfbench import gen

KEEP_LANGS = ("en", "es", "de", "fr")
TABLE = "corpus_packed"


def make_inputs(seed, cache_root, sizes=None):
    return gen.corpus_inputs(seed, cache_root, sizes)


def setup(ctx, inputs):
    st = SimpleNamespace()
    st.inputs = inputs
    st.lh = ctx.lakehouse("lh_corpus")
    return st


def prepare(ctx, st):
    """Truth tables for the checks (no warm-up: see run.batch_loop)."""
    docs = pq.read_table(st.inputs / "docs").to_pydict()
    truth = pq.read_table(st.inputs / "truth.parquet").to_pydict()
    st.n_docs = len(docs["doc_id"])
    st.text = dict(zip(docs["doc_id"], docs["text"]))
    st.cluster = dict(zip(truth["doc_id"], truth["cluster_id"]))
    st.lang = dict(zip(truth["doc_id"], truth["lang"]))
    st.kept_clusters = {c for d, c in st.cluster.items() if st.lang[d] in KEEP_LANGS}


def _stages(ctx, df, scope, op):
    """prepare_corpus's default path, stage by stage (traced runs)."""
    from pyspark.sql import functions as F

    from ecu_sbl_aace_datalake_spark.caching import persist_in
    from ecu_sbl_aace_datalake_spark.operators import dedup, packing, textstats

    span, mat = ctx.span, ctx.materialize
    with span("textstats.with_lang_id", op):
        tagged = mat(textstats.with_lang_id(df, "text"))
    with span("textstats.with_quality_score", op):
        scored = mat(textstats.with_quality_score(tagged, "text"))
    kept = scored.where(F.col("lang_pred").isin(*KEEP_LANGS) & (F.col("quality_score") >= 0.5))
    normed = kept.withColumn("__norm", F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    with span("dedup.exact_dedup", op):
        exact = mat(persist_in(scope, dedup.exact_dedup(normed, ["__norm"], tiebreak=["doc_id"]).drop("__norm")))
    with span("dedup.minhash_dedup", op):
        with span("dedup.minhash_signatures", op):
            # persist-and-forget, as minhash_dedup does inside prepare_corpus
            sh = mat(persist_in(None, dedup.minhash_signatures(
                dedup.shingle_hashes(dedup.ensure_parallelism(exact), "text", n=3), num_hashes=64,
            ).select("doc_id", "shingles", "minhash")))
        with span("dedup.lsh_candidate_pairs", op):
            pairs = mat(dedup.lsh_candidate_pairs(sh, "doc_id", bands=16, num_hashes=64, barrier=False))
            ctx.count("dedup.candidate_pairs", pairs.count())
        with span("dedup.jaccard_verify", op):
            verified = mat(dedup.jaccard_verify(pairs, sh, "doc_id", threshold=0.7))
            ctx.count("dedup.verified_pairs", verified.count())
        losers = verified.select(F.col("id_b").alias("doc_id")).distinct()
        pruned = mat(exact.join(losers, "doc_id", "left_anti"))
    with span("packing.with_token_count", op):
        counted = mat(packing.with_token_count(pruned, "text"))
    with span("packing.greedy_pack", op):
        return mat(packing.greedy_pack(counted, gen.PACK_BUDGET, shard_cols=("source",), order_col="doc_id"))


def run_job(ctx, st, op):
    from ecu_sbl_aace_datalake_spark.caching import CacheScope
    from ecu_sbl_aace_datalake_spark.operators.pipeline import prepare_corpus
    from ecu_sbl_aace_datalake_spark.sources.io import read_path, write_table

    from perfbench.run import data_files

    spark, span = ctx.spark, ctx.span
    scope = CacheScope()
    with span("io.read_path", op):
        df = read_path(spark, str(st.inputs / "docs"), "parquet")
    with span("pipeline.prepare_corpus", op):
        if ctx.tracer.enabled:
            out = _stages(ctx, df, scope, op)
        else:
            out = prepare_corpus(df, keep_langs=KEEP_LANGS, pack_budget=gen.PACK_BUDGET, scope=scope)
    with span("io.write_table", op):
        write_table(st.lh, TABLE, out, fmt="parquet")
    if ctx.tracer.enabled:
        ctx.count("io.write.files", data_files(Path(st.lh.tables_path) / TABLE))
    with span("caching.unpersist", op):
        scope.unpersist()


def check(ctx, st, traced: bool) -> list[str]:
    out = pq.read_table(Path(st.lh.tables_path) / TABLE).to_pydict()
    ids = out["doc_id"]
    problems = []
    if len(set(ids)) != len(ids):
        problems.append("duplicate doc_id in output")
    changed = [d for d, t in zip(ids, out["text"]) if st.text.get(d) != t]
    if changed:
        problems.append(f"{len(changed)} survivors are not input documents, e.g. {changed[:3]}")
        return problems
    norm = Counter(" ".join(t.lower().split()) for t in out["text"])
    dups = sum(n - 1 for n in norm.values() if n > 1)
    if dups:
        problems.append(f"{dups} survivors are exact duplicates after normalization")
    per_cluster = Counter(st.cluster[d] for d in ids)
    multi = [c for c, n in per_cluster.items() if n > 1]
    if multi:
        problems.append(f"{len(multi)} duplicate clusters have more than one survivor")
    missing = st.kept_clusters - set(per_cluster)
    if missing:
        problems.append(f"{len(missing)} kept-language clusters have no survivor")
    dropped_lang = sorted({st.lang[d] for d in ids} - set(KEEP_LANGS))
    if dropped_lang:
        problems.append(f"languages {dropped_lang} survived the language gate")
    bad_tokens = [d for d, t, n in zip(ids, out["text"], out["n_tokens"]) if len(t.split()) != n]
    if bad_tokens:
        problems.append(f"{len(bad_tokens)} wrong n_tokens")
    packs = defaultdict(list)
    for s, p, n in zip(out["source"], out["pack_id"], out["n_tokens"]):
        packs[(s, p)].append(n)
    over = [k for k, ns in packs.items() if sum(ns) > gen.PACK_BUDGET and len(ns) > 1]
    if over:
        problems.append(f"{len(over)} packs exceed the {gen.PACK_BUDGET}-token budget")
    if traced:
        ctx.counters["packing.tokens"] += sum(out["n_tokens"])
        ctx.counters["packing.capacity"] += len(packs) * gen.PACK_BUDGET
    return problems
