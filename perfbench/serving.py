"""lakehouse_serving: two closed-loop clients over a written lakehouse.

Set-up writes the lakehouse through the engine: ``sales`` (fact,
partitioned by month), two dimensions, and ``orders`` (partitioned by
o_month), then builds the zone map of ``sales.sale_date``. Each client
then sends a seeded operation mix:

- 60% point lookups: read_table(sales, sale_id = k), k ~ Zipf(1.1)
- 15% range scans:   read_pruned(sales, sale_date in [lo, hi], zone map)
- 15% aggregates:    sql_over(sales x dim_product x dim_store) for a month
- 10% upserts:       upsert_table(orders, 8 rows), then a read-your-writes
                     check of exactly those keys

The kinds follow one fixed cycle of 20 operations (client 1 starts a
quarter cycle later), so every seed runs the same mix in the same order;
the seed picks the keys, ranges, months and values.

Every read is compared with a DuckDB oracle over the generated data plus
the upserts applied so far; at the end the table_fingerprint of
``orders`` must equal the fingerprint of DuckDB's merged state.

Isolation: an upsert rewrites partitions of ``orders`` in place
(``sources/incremental.py`` is single-writer and gives readers no
snapshot), so upserts and their read-your-writes check hold a lock on
``orders``; the read-only tables are read without one.
"""

from __future__ import annotations

import datetime as dt
import statistics
import threading
import time
import traceback
from pathlib import Path
from types import SimpleNamespace

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import gen

# per cycle of 20: 12 point lookups, 3 scans, 3 aggregates, 2 upserts
CYCLE = "PPPSPPAPPUPSPPAPSPAU"
KIND = {"P": "point", "S": "scan", "A": "agg", "U": "upsert"}
CLIENTS = 2
UPSERT_ROWS = 8
RECENT_MONTHS = ("2025-11", "2025-12")
ORDERS_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_status string, o_total_cents bigint, "
    "o_date date, o_month string"
)
SALES_COLS = ["sale_id", "sale_date", "month", "customer_key", "product_key", "store_key", "qty",
              "amount_cents"]
ORDER_COLS = ["o_orderkey", "o_custkey", "o_status", "o_total_cents", "o_date", "o_month"]
AGG_SQL = (
    "SELECT p.category, s.region, COUNT(*) AS n, SUM(f.amount_cents) AS amount "
    "FROM {f} f JOIN {p} p ON f.product_key = p.product_key "
    "JOIN {s} s ON f.store_key = s.store_key "
    "WHERE f.month = '{month}' GROUP BY p.category, s.region"
)
TABLES = {  # lakehouse table -> partition column
    "sales": "month",
    "dim_product": None,
    "dim_store": None,
    "orders": "o_month",
}


def make_inputs(seed, cache_root, sizes=None):
    return gen.serving_inputs(seed, cache_root, sizes)


def setup(ctx, inputs):
    """Write the lakehouse through the engine and build the zone map."""
    from ecu_sbl_aace_datalake_spark.sources.io import read_path, write_table, zone_map

    spark = ctx.spark
    st = SimpleNamespace()
    st.inputs = inputs
    st.lh = ctx.lakehouse("lh_serving")
    for table, part in TABLES.items():
        src = read_path(spark, str(inputs / f"{table}.parquet"), "parquet")
        write_table(st.lh, table, src, partition_by=part, fmt="parquet")
    # the zone map is tiny (one row per file): keep it as a local relation
    rows = zone_map(spark, st.lh, "sales", ["sale_date"], fmt="parquet").collect()
    st.zmap = spark.createDataFrame(rows)
    return st


def prepare(ctx, st):
    """DuckDB oracle over the generated data, key sets, then a warm-up of
    every operation kind (checked, not counted)."""
    from perfbench.run import dir_bytes

    st.db = duckdb.connect()
    for table in TABLES:
        st.db.execute(f"CREATE TABLE {table} AS SELECT * FROM read_parquet('{st.inputs / (table + '.parquet')}')")
    st.n_sales = pq.read_metadata(st.inputs / "sales.parquet").num_rows
    orders = pq.read_table(st.inputs / "orders.parquet", columns=["o_orderkey", "o_date", "o_month"])
    keys = orders.column("o_orderkey").to_numpy()
    months = np.asarray(orders.column("o_month").to_pylist())
    st.n_orders = len(keys)
    st.recent_keys = keys[np.isin(months, RECENT_MONTHS)]
    # the client's own view of each order's date (kept under the write lock)
    st.order_date = dict(zip(keys.tolist(), orders.column("o_date").to_pylist()))
    st.months = sorted(set(pq.read_table(st.inputs / "sales.parquet", columns=["month"])
                           .column("month").to_pylist()))
    st.orders_lock = threading.Lock()
    st.agg_oracle = {}
    st.agg_lock = threading.Lock()
    st.row_bytes = dir_bytes(Path(st.lh.tables_path) / "orders") / st.n_orders
    st.next_key = [st.n_orders + 1 + c * 10_000_000 for c in range(CLIENTS + 1)]
    # warm-up: the upsert on one thread while the reads run on this one
    errors = []

    def warm(kinds, seed):
        cur, rng = st.db.cursor(), np.random.default_rng(seed)
        for kind in kinds:
            ok, _lat, err = run_op(ctx, st, cur, rng, kind, CLIENTS, 0)
            if not ok:
                errors.append(f"warm-up {kind}: {err}")
        cur.close()

    writer = threading.Thread(target=warm, args=(["upsert"], 1))
    writer.start()
    warm(["point", "scan", "agg"], 2)
    writer.join()
    if errors:
        raise RuntimeError("; ".join(errors))


# --------------------------------------------------------------- operations

def _zipf_key(st, rng) -> int:
    # Zipf(1.1) rank over a fixed popularity order of the existing keys
    rank = (int(rng.zipf(1.1)) - 1) % st.n_sales
    return int((rank * 2_654_435_761) % st.n_sales) + 1


def _norm(row: dict) -> tuple:
    return tuple(row[c] for c in ORDER_COLS)


def run_op(ctx, st, cur, rng, kind, client, op):
    """One operation; returns (ok, latency_s, error). The latency covers
    the engine calls (and lock waits), not the oracle comparison."""
    from pyspark.sql import functions as F

    from ecu_sbl_aace_datalake_spark.operators.query import sql_over
    from ecu_sbl_aace_datalake_spark.sources.incremental import upsert_table
    from ecu_sbl_aace_datalake_spark.sources.io import read_pruned, read_table

    spark, lh, span = ctx.spark, st.lh, ctx.span
    try:
        if kind == "point":
            k = _zipf_key(st, rng)
            t0 = time.perf_counter()
            with span("io.read_table", op):
                rows = read_table(spark, lh, "sales", condition=f"sale_id = {k}", fmt="parquet").collect()
            lat = time.perf_counter() - t0
            ctx.count("io.read.rows_returned", len(rows))
            got = sorted(tuple(r[c] for c in SALES_COLS) for r in rows)
            want = cur.execute(f"SELECT {', '.join(SALES_COLS)} FROM sales WHERE sale_id = ?", [k]).fetchall()
            if got != sorted(want):
                return False, lat, f"point {k}: got {got} want {want}"
            return True, lat, None

        if kind == "scan":
            lo = dt.date(2025, 1, 1) + dt.timedelta(days=int(rng.integers(0, 355)))
            hi = lo + dt.timedelta(days=int(rng.integers(2, 10)))
            t0 = time.perf_counter()
            with span("io.read_pruned", op):
                df, _info = read_pruned(spark, lh, "sales", {"sale_date": (lo, hi)},
                                        zmap=st.zmap, fmt="parquet")
                r = df.agg(F.count(F.lit(1)), F.sum("sale_id"), F.sum("qty"),
                           F.sum("amount_cents")).first()
            lat = time.perf_counter() - t0
            got = tuple(int(v or 0) for v in r)
            ctx.count("io.read.rows_returned", got[0])
            want = cur.execute(
                "SELECT COUNT(*), SUM(sale_id), SUM(qty), SUM(amount_cents) FROM sales "
                "WHERE sale_date BETWEEN ? AND ?", [lo, hi]).fetchone()
            want = tuple(int(v or 0) for v in want)
            if got != want:
                return False, lat, f"scan {lo}..{hi}: got {got} want {want}"
            return True, lat, None

        if kind == "agg":
            month = st.months[int(rng.integers(0, len(st.months)))]
            names = [f"f_{client}_{op}", f"p_{client}_{op}", f"s_{client}_{op}"]
            t0 = time.perf_counter()
            with span("io.read_table", op):
                dfs = [read_table(spark, lh, t, fmt="parquet") for t in ("sales", "dim_product", "dim_store")]
            with span("query.sql_over", op):
                sql = AGG_SQL.format(f=names[0], p=names[1], s=names[2], month=month)
                rows = sql_over(spark, dfs, names, sql).collect()
            lat = time.perf_counter() - t0
            for n in names:
                spark.catalog.dropTempView(n)
            got = sorted((r["category"], r["region"], int(r["n"]), int(r["amount"])) for r in rows)
            with st.agg_lock:
                if month not in st.agg_oracle:
                    st.agg_oracle[month] = sorted(
                        (a, b, int(c), int(d)) for a, b, c, d in cur.execute(
                            AGG_SQL.format(f="sales", p="dim_product", s="dim_store", month=month)
                        ).fetchall()
                    )
                want = st.agg_oracle[month]
            if got != want:
                return False, lat, f"agg {month}: {len(got)} groups differ from oracle"
            return True, lat, None

        # upsert: updates of recent orders (the first moves to December, so
        # to another partition) plus new December orders, then
        # read-your-writes on exactly those keys
        upd = [int(k) for k in rng.choice(st.recent_keys, size=UPSERT_ROWS - 2, replace=False)]
        new = [st.next_key[client] + i for i in range(2)]
        st.next_key[client] += 2
        december = [dt.date(2025, 12, 1) + dt.timedelta(days=int(d)) for d in rng.integers(0, 31, 3)]
        fields = [(int(rng.integers(1, 5000)), int(rng.integers(100, 1_000_000))) for _ in range(UPSERT_ROWS)]
        t0 = time.perf_counter()
        with st.orders_lock:
            dates = [december[0], *(st.order_date[k] for k in upd[1:]), *december[1:]]
            rows = [
                (k, cust, "U", total, d, d.isoformat()[:7])
                for k, (cust, total), d in zip([*upd, *new], fields, dates)
            ]
            with span("incremental.upsert_table", op):
                updates = spark.createDataFrame(rows, ORDERS_SCHEMA)
                upsert_table(spark, lh, "orders", updates, ["o_orderkey"], partition_by="o_month")
            lat = time.perf_counter() - t0
            ctx.count("incremental.upserts", 1)
            ctx.count("incremental.bytes_updated", len(rows) * st.row_bytes)
            keys = ", ".join(str(r[0]) for r in rows)
            with span("io.read_table", op):
                back = read_table(spark, lh, "orders", condition=f"o_orderkey IN ({keys})",
                                  fmt="parquet").collect()
            ctx.count("io.read.rows_returned", len(back))
            cur.execute(f"DELETE FROM orders WHERE o_orderkey IN ({keys})")
            cur.executemany("INSERT INTO orders VALUES (?, ?, ?, ?, ?, ?)", rows)
            st.order_date.update((r[0], r[4]) for r in rows)
        got = sorted(_norm(r.asDict()) for r in back)
        want = sorted(rows)
        if got != want:
            return False, lat, f"upsert read-your-writes: got {got} want {want}"
        return True, lat, None
    except Exception:  # an operation that raises counts as failed
        return False, 0.0, traceback.format_exc(limit=3)


# ------------------------------------------------------------------ measure

SLICES = 4


def _phase(ctx, st, seconds, rngs, positions, op_counter, tracing):
    """Run the clients for ``seconds``; returns (records, wall_s, rate).

    ``rate`` is the median over ``SLICES`` equal slices of the window of
    the operations completed per second in the slice, each successful
    operation counted by the share of its run time inside the slice (so a
    5-second upsert spreads over the slices it spans, and a burst of host
    contention moves one slice, not the median)."""
    ctx.tracer.enabled = tracing
    t0 = time.perf_counter()
    deadline = t0 + seconds
    records: list[tuple[str, bool, float, str | None]] = []
    spans: list[tuple[float, float]] = []
    lock = threading.Lock()

    def client(c):
        cur = st.db.cursor()
        try:
            while time.perf_counter() < deadline:
                kind = KIND[CYCLE[positions[c] % len(CYCLE)]]
                positions[c] += 1
                with lock:
                    op_counter[0] += 1
                    op = op_counter[0]
                start = time.perf_counter()
                ok, lat, err = run_op(ctx, st, cur, rngs[c], kind, c, op)
                end = time.perf_counter()
                with lock:
                    records.append((kind, ok, lat, err))
                    if ok:
                        spans.append((start, end))
        finally:
            cur.close()

    threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}") for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    ctx.tracer.enabled = False
    width = seconds / SLICES
    rates = []
    for i in range(SLICES):
        lo, hi = t0 + i * width, t0 + (i + 1) * width
        done = sum(max(0.0, min(end, hi) - max(start, lo)) / (end - start) for start, end in spans)
        rates.append(done / width)
    return records, wall, statistics.median(rates)


def measure(ctx, st, seconds, m, corrupt=None):
    from ecu_sbl_aace_datalake_spark.operators.transform import table_fingerprint
    from ecu_sbl_aace_datalake_spark.sources.io import read_table

    from perfbench.run import dir_bytes, percentile
    from perfbench.trace import SparkUI, tree_cpu_s

    rngs = [np.random.default_rng([st.seed, c]) for c in range(CLIENTS)]
    # client 1 starts a quarter cycle in, so the two clients' upserts
    # (positions 9 and 19) do not fall due together
    positions = [0, 5]
    counter = [0]
    untraced_s = seconds / 2 if ctx.trace else seconds
    cpu0 = tree_cpu_s()
    records, wall, rate = _phase(ctx, st, untraced_s, rngs, positions, counter, False)
    cpu = tree_cpu_s() - cpu0
    traced, traced_wall = ([], 0.0)
    if ctx.trace:
        m.persisted_bytes = SparkUI(ctx.spark).persisted_bytes()
        traced, traced_wall, _ = _phase(ctx, st, seconds - untraced_s, rngs, positions, counter, True)
    if corrupt is not None:
        corrupt(ctx, st)
    for kind, ok, _lat, err in records + traced:
        m.attempted += 1
        if not ok:
            m.failed += 1
            m.fail(f"{kind}: {err}")
    # final state: engine checksum vs the oracle's merged orders
    m.attempted += 1
    want = gen.fingerprint(st.db.execute(f"SELECT {', '.join(ORDER_COLS)} FROM orders").fetchall())
    try:
        fp = read_table(ctx.spark, st.lh, "orders", fmt="parquet").select(*ORDER_COLS)
        r = table_fingerprint(fp).first()
        got = (int(r["n_rows"]), int(r["checksum"] or 0))
    except Exception:  # an unreadable table fails the check
        got = traceback.format_exc(limit=2)
    if got != want:
        m.failed += 1
        m.fail(f"final orders fingerprint {got} != oracle {want}")

    lat = {k: [r[2] for r in records if r[0] == k and r[1]] for k in KIND.values()}
    m.throughput_per_s = rate
    m.cpu_s_per_op = cpu / len(records)
    m.report += [
        ("point_p50_ms", percentile(lat["point"], 50) * 1000.0, "ms", len(lat["point"])),
        ("point_p90_ms", percentile(lat["point"], 90) * 1000.0, "ms", len(lat["point"])),
        ("scan_p50_ms", percentile(lat["scan"], 50) * 1000.0, "ms", len(lat["scan"])),
        ("agg_p50_ms", percentile(lat["agg"], 50) * 1000.0, "ms", len(lat["agg"])),
        ("upsert_p50_ms", percentile(lat["upsert"], 50) * 1000.0, "ms", len(lat["upsert"])),
        ("ops_per_s", m.throughput_per_s, "1/s", len(records)),
    ]
    live = st.db.execute(
        "SELECT " + " + ".join(f"(SELECT COUNT(*) FROM {t})" for t in TABLES)
    ).fetchone()[0]
    m.stored_bytes_per_row = dir_bytes(Path(st.lh.tables_path)) / live
    if traced:
        m.traced_units = len(traced)
        m.traced_wall_s = traced_wall
        # compared on point lookups, the one kind both halves have plenty of
        traced_point = [r[2] for r in traced if r[0] == "point" and r[1]]
        if traced_point and lat["point"]:
            m.trace_overhead = percentile(traced_point, 50) / percentile(lat["point"], 50) - 1.0
        m.report.append(("traced_point_p50_ms", percentile(traced_point, 50) * 1000.0, "ms",
                         len(traced_point)))
