"""batch_etl: the package's two batch jobs, run back to back as one batch.

Each batch job runs the star_etl stage (dirty sales extract -> cast/clean
-> four dimensions -> validated key swap -> partitioned writes -> profile)
and then the corpus_prep stage (prepare_corpus -> write) on the same
session, one closed-loop client. Both stages' outputs are checked after
every batch job (see star_etl.check and corpus.check).

Why one workload: a run of this benchmark must fit in well under a minute,
and each batch stage pays a cold JVM (JIT and codegen) on its first job; two
separate batch workloads would each pay a JVM launch and set-up rounds.
"""

from __future__ import annotations

from pathlib import Path
from types import SimpleNamespace

from perfbench import corpus, star_etl


def make_inputs(seed, cache_root, sizes=None):
    sizes = sizes or {}
    return (
        star_etl.make_inputs(seed, cache_root, sizes.get("star")),
        corpus.make_inputs(seed, cache_root, sizes.get("corpus")),
    )


def setup(ctx, inputs):
    return SimpleNamespace(star=star_etl.setup(ctx, inputs[0]), corpus=corpus.setup(ctx, inputs[1]))


def prepare(ctx, st):
    star_etl.prepare(ctx, st.star)
    corpus.prepare(ctx, st.corpus)


def measure(ctx, st, seconds, m, corrupt=None):
    import pyarrow.parquet as pq

    from perfbench.run import batch_loop, dir_bytes

    def job(op):
        profile = star_etl.run_job(ctx, st.star, op)
        corpus.run_job(ctx, st.corpus, op)
        if corrupt is not None:
            corrupt(ctx, st, op)
        return profile

    def check(profile, traced):
        return [f"star_etl: {p}" for p in star_etl.check(ctx, st.star, profile)] + [
            f"corpus_prep: {p}" for p in corpus.check(ctx, st.corpus, traced)
        ]

    batch_loop(ctx, m, seconds, job, check, st.star.n_rows + st.corpus.n_docs)
    star_tables, corpus_tables = Path(st.star.lh.tables_path), Path(st.corpus.lh.tables_path)
    live = st.star.n_rows + pq.read_table(corpus_tables / corpus.TABLE, columns=["doc_id"]).num_rows
    m.stored_bytes_per_row = (dir_bytes(star_tables) + dir_bytes(corpus_tables)) / live
