"""star_etl: the ETL stage of the batch_etl workload (see batch.py).

Over a dirty raw sales extract, in order:
cast_columns + set_null_to_zero (transform), the cleaning Arrow UDFs and
native garbage check (cleaning), four build_dimension calls — one on a
composite key (star), simple_map / simple_map_multi with their default
validation (star), write_table of a month-partitioned fact plus the
dimensions (io), and profile_columns over the written fact (profile).

Checks per job: fact row count preserved; joining the surrogate keys back
to the dimensions reproduces the ground truth (equal table_fingerprint);
the customer and status dimensions equal the golden cleaned values.
"""

from __future__ import annotations

import json
from pathlib import Path
from types import SimpleNamespace

from perfbench import gen

NUMERIC = ["customer_id", "qty", "price_cents", "discount_cents"]
DIMS = {  # table -> (natural key columns, row count measure)
    "dim_customer": (["customer_id", "customer_name"], None),
    "dim_product": (["sku"], None),
    "dim_store": (["store_code"], None),
    "dim_status": (["status"], "sale_id"),
}


def make_inputs(seed, cache_root, sizes=None):
    return gen.star_inputs(seed, cache_root, sizes)


def setup(ctx, inputs):
    """Nothing to build ahead of the job but a fresh lakehouse."""
    st = SimpleNamespace()
    st.inputs = inputs
    st.raw = str(inputs / "raw_sales")
    st.lh = ctx.lakehouse("lh_star")
    return st


def prepare(ctx, st):
    """Ground truth for the checks (no warm-up: see run.batch_loop)."""
    truth = json.loads((st.inputs / "truth.json").read_text())
    st.n_rows = truth["n_rows"]
    st.expected_fp = (truth["n_rows"], truth["checksum"])
    st.golden_customers = {tuple(c) for c in truth["customers"]}
    st.golden_status = set(truth["statuses"])


def run_job(ctx, st, op):
    from pyspark.sql import functions as F

    from ecu_sbl_aace_datalake_spark.caching import CacheScope
    from ecu_sbl_aace_datalake_spark.functions.cleaning import (
        fix_dodgy_statuses_udf,
        fix_up_name_udf,
        garbage_clo_col,
    )
    from ecu_sbl_aace_datalake_spark.operators.profile import profile_columns
    from ecu_sbl_aace_datalake_spark.operators.star import build_dimension, simple_map, simple_map_multi
    from ecu_sbl_aace_datalake_spark.operators.transform import cast_columns, set_null_to_zero
    from ecu_sbl_aace_datalake_spark.sources.io import read_path, read_table, write_table

    from perfbench.run import data_files

    spark, lh, span = ctx.spark, st.lh, ctx.span
    with span("io.read_path", op):
        df = read_path(spark, st.raw, "parquet")
    with span("transform.cast_columns", op):
        df, _ = cast_columns(df, NUMERIC, "int", keep_failed_orig=False)
        df, _ = cast_columns(df, ["sale_date"], "date", keep_failed_orig=False)
    with span("transform.set_null_to_zero", op):
        df = set_null_to_zero(df, ["qty", "price_cents", "discount_cents"])
        df = ctx.materialize(df)
    df = df.withColumn("month", F.date_format("sale_date", "yyyy-MM"))
    with span("cleaning.udfs", op):
        df = (
            df.withColumn("customer_name", fix_up_name_udf("customer_name"))
            .withColumn("status", fix_dodgy_statuses_udf("status"))
            .withColumn("notes_missing", garbage_clo_col("notes"))
            .drop("notes")
        )
        ctx.count("cleaning.rows", st.n_rows)
    # the cleaned staging table feeds four dimensions and the key swap:
    # persist it once for the job, as a long-lived session should
    scope = CacheScope()
    with span("caching.persist", op):
        df = scope.persist(df)
    with span("cleaning.udfs", op):
        df = ctx.materialize(df)
    dims = {}
    for name, (keys, measure) in DIMS.items():
        with span("star.build_dimension", op):
            dims[name] = ctx.materialize(build_dimension(df, keys, row_count_col=measure))
    fact = df
    for name, (keys, _) in DIMS.items():
        if len(keys) > 1:
            with span("star.simple_map_multi", op):
                fact = ctx.materialize(simple_map_multi(fact, dims[name], keys))
        else:
            with span("star.simple_map", op):
                fact = ctx.materialize(simple_map(fact, dims[name], keys[0]))
    with span("io.write_table", op):
        write_table(lh, "fact_sales", fact, partition_by="month")
    for name, dim in dims.items():
        with span("io.write_table", op):
            write_table(lh, name, dim)
    if ctx.tracer.enabled:
        ctx.count("io.write.files", data_files(Path(lh.tables_path)))
    with span("profile.profile_columns", op):
        profile = profile_columns(read_table(spark, lh, "fact_sales", fmt="parquet")).collect()
    with span("caching.unpersist", op):
        scope.unpersist()
    return profile


def check(ctx, st, profile) -> list[str]:
    from pyspark.sql import functions as F

    from ecu_sbl_aace_datalake_spark.operators.star import index_col_name
    from ecu_sbl_aace_datalake_spark.operators.transform import table_fingerprint
    from ecu_sbl_aace_datalake_spark.sources.io import read_table

    spark, lh = ctx.spark, st.lh
    problems = []
    with ctx.span("bench.check"):
        fact = read_table(spark, lh, "fact_sales", fmt="parquet")
        dims = {name: read_table(spark, lh, name, fmt="parquet") for name in DIMS}
        n = fact.count()
        if n != st.n_rows:
            problems.append(f"fact rows {n} != input rows {st.n_rows}")
        back = fact
        for name, (keys, _) in DIMS.items():
            idx = index_col_name(keys)
            back = back.join(F.broadcast(dims[name].select(idx, *keys)), idx, "left")
        r = table_fingerprint(back.select(*gen.STAR_CHECK_COLS)).first()
        fp = (int(r["n_rows"]), int(r["checksum"] or 0))
        if fp != st.expected_fp:
            problems.append(f"round-trip fingerprint {fp} != expected {st.expected_fp}")
        cust = {(r[0], r[1]) for r in dims["dim_customer"].select("customer_id", "customer_name").collect()}
        if cust != st.golden_customers:
            bad = sorted(cust ^ st.golden_customers)[:3]
            problems.append(f"customer dimension differs from golden names, e.g. {bad}")
        status = {r[0] for r in dims["dim_status"].select("status").collect()}
        if status != st.golden_status:
            problems.append(f"status dimension {sorted(status)} != golden {sorted(st.golden_status)}")
        n_rows = {r["n_rows"] for r in profile}
        if n_rows != {st.n_rows}:
            problems.append(f"profile n_rows {n_rows} != {st.n_rows}")
    return problems
