"""Seeded input generators for the three benchmark workloads.

Each generator takes the workload seed and writes parquet files that are
the ONLY input the engine receives; the ground truth the checks need
(canonical names, planted duplicate clusters, ...) goes to separate files
the engine never reads. Outputs are cached per (workload, seed, sizes)
under ``.bench_cache/`` so generation stays outside every timed region and
repeated seeds skip it.

Pure numpy + pyarrow: no Spark here, so the same seed gives byte-identical
inputs in any environment with the same library versions.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator's output changes, so stale caches are not reused
VERSION = 3

# input sizes per workload (recorded in BENCHMARK.json's "why" lines)
STAR_SIZES = {"n_rows": 10_000, "n_customers": 1_000, "n_products": 300, "n_stores": 40}
SERVING_SIZES = {
    "n_sales": 100_000,
    "n_customers": 5_000,
    "n_products": 800,
    "n_stores": 40,
    "n_orders": 30_000,
}
CORPUS_SIZES = {"n_docs": 3_000}

# ------------------------------------------------------------------ helpers

_FIRST = (
    "John Mary James Linda Robert Susan Michael Karen William Nancy David Lisa "
    "Richard Betty Joseph Helen Thomas Sandra Charles Donna Daniel Carol Paul "
    "Ruth Mark Sharon Steven Laura Kevin Sarah Brian Anna Edward Emma Ronald "
    "Grace George Alice Peter Rose"
).split()
_LAST = (
    "Smith Johnson Williams Brown Jones Miller Davis Wilson Anderson Taylor "
    "Thomas Moore Martin Jackson Thompson White Harris Clark Lewis Robinson "
    "Walker Young Allen King Wright Scott Green Baker Adams Nelson Hill Campbell "
    "Mitchell Roberts Carter Phillips Evans Turner Torres Parker Collins Edwards "
    "Stewart Morris Murphy Cook Rogers Morgan Peterson Cooper Reed Bailey Bell "
    "Howard Ward Cox Richardson Wood Watson Brooks"
).split()

# raw spellings of each canonical status; every one of them must clean to
# its canonical value (tests pin this against the library's plain form)
STATUS_VARIANTS = {
    "Completed": ["Completed", "completed", "COMPLETED", "Complted", "complete", "Completd"],
    "Discontinued": ["Discontinued", "discontinued", "DISCONTINUED", "Discontinue", "discontinud"],
    "Enrolled": ["Enrolled", "enrolled", "ENROLLED", "Enroled", "enrol"],
}
STATUS_NONE = "None Supplied"

CATEGORIES = ["grocery", "toys", "garden", "books", "music", "sports", "home", "auto"]
REGIONS = ["north", "south", "east", "west"]
ORDER_STATUS = ["O", "F", "P"]

_EPOCH_2025 = dt.date(2025, 1, 1)


def _name_variant(first: str, last: str, k: int) -> str:
    """Messy spelling ``k`` of "First Last"; each cleans back to it."""
    return [
        f"{first} {last}",
        f"{first.lower()} {last.lower()}",
        f"{first.upper()} {last.upper()}",
        f"{last}, {first}",
        f"{last.lower()}, {first.lower()}",
        f"{first} {last} (VIP)",
        f"  {first.lower()} {last.lower()}  ",
        f"{last.upper()}, {first.upper()} (acct)",
    ][k]


N_NAME_VARIANTS = 8


def _cached(kind: str, seed: int, sizes: dict, cache_root: Path, build) -> Path:
    """Return the cache dir for (kind, seed, sizes), building it once.
    Built in a temp dir and renamed, so a killed run leaves no half cache."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    out = cache_root / f"{kind}-v{VERSION}-s{seed}-{tag}"
    if (out / "_DONE").exists():
        return out
    tmp = cache_root / f".tmp-{kind}-{seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(np.random.default_rng(seed), tmp, **sizes)
    (tmp / "_DONE").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _write(table: dict, path: Path, parts: int = 1) -> None:
    """Write ``table`` as one parquet file, or as a directory of ``parts``
    files (a raw extract arrives in several files, which is what gives the
    engine's scan more than one partition)."""
    t = pa.table(table)
    if parts == 1:
        pq.write_table(t, path)
        return
    path.mkdir()
    step = -(-t.num_rows // parts)
    for i in range(parts):
        pq.write_table(t.slice(i * step, step), path / f"part-{i:05d}.parquet")


def fingerprint(rows) -> tuple[int, int]:
    """(n_rows, checksum) exactly as the engine's ``table_fingerprint``
    computes them, in plain Python: md5 of the row's fields cast to string
    (dates ISO, booleans lower-case) joined by U+001F, NULL as U+0000; the
    first 15 hex digits summed."""
    total, n = 0, 0
    for r in rows:
        canon = "\x1f".join(
            "\x00" if v is None
            else v.isoformat() if isinstance(v, dt.date)
            else ("true" if v else "false") if isinstance(v, bool)
            else str(v)
            for v in r
        )
        total += int(hashlib.md5(canon.encode()).hexdigest()[:15], 16)
        n += 1
    return n, total


def _dates(days: np.ndarray) -> list[dt.date]:
    return [_EPOCH_2025 + dt.timedelta(days=int(d)) for d in days]


# ---------------------------------------------------------------- star_etl

# columns of the star round-trip check, in fingerprint order
STAR_CHECK_COLS = [
    "sale_id", "sale_date", "month", "customer_id", "customer_name", "sku",
    "store_code", "status", "notes_missing", "qty", "price_cents", "discount_cents",
]

def _build_star(rng, out: Path, n_rows: int, n_customers: int, n_products: int, n_stores: int) -> None:
    cust_first = rng.integers(0, len(_FIRST), n_customers)
    cust_last = rng.integers(0, len(_LAST), n_customers)
    cust_ids = rng.permutation(n_customers) + 10_000

    ci = rng.integers(0, n_customers, n_rows)
    variant = rng.integers(0, N_NAME_VARIANTS, n_rows)
    raw_names = [
        _name_variant(_FIRST[cust_first[c]], _LAST[cust_last[c]], int(v))
        for c, v in zip(ci, variant)
    ]
    clean_names = [f"{_FIRST[cust_first[c]]} {_LAST[cust_last[c]]}" for c in ci]

    canon = list(STATUS_VARIANTS)
    st_canon = rng.integers(0, len(canon), n_rows)
    st_var = rng.integers(0, 100, n_rows)
    st_draw = rng.random(n_rows)
    raw_status, clean_status = [], []
    for c, v, d in zip(st_canon, st_var, st_draw):
        if d < 0.05:
            raw_status.append(None)
            clean_status.append(STATUS_NONE)
        elif d < 0.07:
            raw_status.append("")
            clean_status.append(STATUS_NONE)
        else:
            variants = STATUS_VARIANTS[canon[c]]
            raw_status.append(variants[v % len(variants)])
            clean_status.append(canon[c])

    note_draw = rng.random(n_rows)
    note_num = rng.integers(0, 1000, n_rows)
    notes, missing = [], []
    for d, k in zip(note_draw, note_num):
        if d < 0.3:
            notes.append(None)
        elif d < 0.4:
            notes.append("n/a")
        elif d < 0.45:
            notes.append(" N/A ")
        elif d < 0.5:
            notes.append("")
        else:
            notes.append(f"note {k}")
        missing.append(bool(d < 0.5))

    qty = rng.integers(1, 21, n_rows)
    qty_draw = rng.random(n_rows)
    raw_qty = [None if d < 0.02 else ("n/a" if d < 0.05 else str(q)) for q, d in zip(qty, qty_draw)]
    clean_qty = [0 if d < 0.05 else int(q) for q, d in zip(qty, qty_draw)]
    price = rng.integers(100, 50_000, n_rows)
    price_draw = rng.random(n_rows)
    raw_price = [None if d < 0.01 else str(p) for p, d in zip(price, price_draw)]
    clean_price = [0 if d < 0.01 else int(p) for p, d in zip(price, price_draw)]
    disc = rng.integers(0, 500, n_rows)
    disc_draw = rng.random(n_rows)
    raw_disc = [None if d < 0.7 else str(x) for x, d in zip(disc, disc_draw)]
    clean_disc = [0 if d < 0.7 else int(x) for x, d in zip(disc, disc_draw)]

    days = rng.integers(0, 365, n_rows)
    dates = _dates(days)
    date_s = [d.isoformat() for d in dates]
    months = [s[:7] for s in date_s]
    skus = [f"SKU-{i:05d}" for i in rng.integers(0, n_products, n_rows)]
    stores = [f"ST{i:03d}" for i in rng.integers(0, n_stores, n_rows)]
    sale_ids = rng.permutation(n_rows).astype(np.int64) + 1
    cust_col = cust_ids[ci]

    _write(
        {
            "sale_id": sale_ids,
            "sale_date": date_s,
            "customer_id": [str(c) for c in cust_col],
            "customer_name": raw_names,
            "sku": skus,
            "store_code": stores,
            "status": raw_status,
            "notes": notes,
            "qty": raw_qty,
            "price_cents": raw_price,
            "discount_cents": raw_disc,
        },
        out / "raw_sales",
        parts=8,
    )
    # ground truth: what every fact row must round-trip to
    expected = {
        "sale_id": sale_ids,
        "sale_date": date_s,
        "month": months,
        "customer_id": cust_col.astype(np.int64),
        "customer_name": clean_names,
        "sku": skus,
        "store_code": stores,
        "status": clean_status,
        "notes_missing": missing,
        "qty": np.asarray(clean_qty, dtype=np.int64),
        "price_cents": np.asarray(clean_price, dtype=np.int64),
        "discount_cents": np.asarray(clean_disc, dtype=np.int64),
    }
    cols = [expected[c] for c in STAR_CHECK_COLS]
    rows = zip(*[c.tolist() if isinstance(c, np.ndarray) else c for c in cols])
    n, checksum = fingerprint(rows)
    truth = {
        "n_rows": n,
        "checksum": checksum,
        "customers": sorted({(int(i), nm) for i, nm in zip(cust_col, clean_names)}),
        "statuses": sorted(set(clean_status)),
    }
    (out / "truth.json").write_text(json.dumps(truth))


def star_inputs(seed: int, cache_root: Path, sizes: dict | None = None) -> Path:
    return _cached("star_etl", seed, sizes or STAR_SIZES, cache_root, _build_star)


# ------------------------------------------------------- lakehouse_serving

def _build_serving(
    rng, out: Path, n_sales: int, n_customers: int, n_products: int, n_stores: int, n_orders: int
) -> None:
    days = rng.integers(0, 365, n_sales)
    dates = _dates(days)
    _write(
        {
            "sale_id": np.arange(1, n_sales + 1, dtype=np.int64),
            "sale_date": pa.array(dates, pa.date32()),
            "month": [d.isoformat()[:7] for d in dates],
            "customer_key": rng.integers(1, n_customers + 1, n_sales),
            "product_key": rng.integers(1, n_products + 1, n_sales),
            "store_key": rng.integers(1, n_stores + 1, n_sales),
            "qty": rng.integers(1, 21, n_sales),
            "amount_cents": rng.integers(100, 100_000, n_sales),
        },
        out / "sales.parquet",
    )
    _write(
        {
            "product_key": np.arange(1, n_products + 1, dtype=np.int64),
            "category": [CATEGORIES[i] for i in rng.integers(0, len(CATEGORIES), n_products)],
            "brand": [f"brand{i:02d}" for i in rng.integers(0, 30, n_products)],
        },
        out / "dim_product.parquet",
    )
    _write(
        {
            "store_key": np.arange(1, n_stores + 1, dtype=np.int64),
            "region": [REGIONS[i] for i in rng.integers(0, len(REGIONS), n_stores)],
        },
        out / "dim_store.parquet",
    )
    # orders span 2025; partition column o_month
    o_days = rng.integers(0, 365, n_orders)
    o_dates = _dates(o_days)
    _write(
        {
            "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_customers + 1, n_orders),
            "o_status": [ORDER_STATUS[i] for i in rng.integers(0, 3, n_orders)],
            "o_total_cents": rng.integers(100, 1_000_000, n_orders),
            "o_date": pa.array(o_dates, pa.date32()),
            "o_month": [d.isoformat()[:7] for d in o_dates],
        },
        out / "orders.parquet",
    )


def serving_inputs(seed: int, cache_root: Path, sizes: dict | None = None) -> Path:
    return _cached("lakehouse_serving", seed, sizes or SERVING_SIZES, cache_root, _build_serving)


# ------------------------------------------------------------- corpus_prep

LANGS = ["en", "es", "de", "fr", "zh"]
SOURCES = [f"src{i}" for i in range(5)]
# markers each language owns exclusively among the engine's lang-ID marker
# sets, so a document's language is never a tie
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "y", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "les", "et", "une", "est", "dans"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "人", "这", "不"],
}
PACK_BUDGET = 256


def _vocab(rng, n_per_lang: int) -> dict[str, list[str]]:
    taken = {m for ms in LANG_MARKERS.values() for m in ms}
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    while len(words) < n_per_lang * 4:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(4, 10)))])
        if w not in taken:
            taken.add(w)
            words.append(w)
    vocab = {lang: words[i * n_per_lang:(i + 1) * n_per_lang] for i, lang in enumerate(LANGS[:4])}
    cjk = [chr(c) for c in range(0x4E00 + 200, 0x4E00 + 3200)]
    vocab["zh"] = [
        "".join(cjk[j] for j in rng.integers(0, len(cjk), 2)) for _ in range(n_per_lang)
    ]
    return vocab


def _base_doc(rng, vocab: list[str], markers: list[str], n_words: int) -> list[str]:
    words = [vocab[i] for i in rng.integers(0, len(vocab), n_words)]
    for m in rng.choice(markers, size=min(4, len(markers)), replace=False):
        words[int(rng.integers(0, n_words))] = str(m)
    return words


def _build_corpus(rng, out: Path, n_docs: int) -> None:
    vocab = _vocab(rng, 1500)
    n_exact = n_docs // 10
    n_near = n_docs // 10
    n_base = n_docs - n_exact - n_near
    texts: list[str] = []
    words_of: list[list[str]] = []
    langs, sources, cluster = [], [], []
    for b in range(n_base):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        # ~1% oversized documents: longer than the pack budget on their own
        n_words = int(rng.integers(PACK_BUDGET + 20, PACK_BUDGET + 120)) if rng.random() < 0.01 \
            else int(rng.integers(50, 130))
        w = _base_doc(rng, vocab[lang], LANG_MARKERS[lang], n_words)
        words_of.append(w)
        texts.append(" ".join(w) + ".")
        langs.append(lang)
        sources.append(SOURCES[int(rng.integers(0, len(SOURCES)))])
        cluster.append(b)
    # exact duplicates: same words, different case/whitespace (equal after
    # lower + trim + whitespace collapse)
    for b in rng.integers(0, n_base, n_exact):
        w = words_of[b]
        style = int(rng.integers(0, 3))
        if style == 0:
            t = " ".join(w).upper() + "."
        elif style == 1:
            t = "  " + "  ".join(w) + ".\n"
        else:
            t = "\t" + " ".join(w) + ".  "
        texts.append(t)
        langs.append(langs[b])
        sources.append(SOURCES[int(rng.integers(0, len(SOURCES)))])
        cluster.append(int(b))
    # near duplicates: one non-marker word substituted (3-shingle Jaccard
    # >= 0.88 for >= 50 words, far above the 0.7 dedup threshold)
    for b in rng.integers(0, n_base, n_near):
        w = list(words_of[b])
        markers = set(LANG_MARKERS[langs[b]])
        while True:
            pos = int(rng.integers(0, len(w)))
            if w[pos] not in markers:
                break
        voc = vocab[langs[b]]
        new = w[pos]
        while new == w[pos]:
            new = voc[int(rng.integers(0, len(voc)))]
        w[pos] = new
        texts.append(" ".join(w) + ".")
        langs.append(langs[b])
        sources.append(SOURCES[int(rng.integers(0, len(SOURCES)))])
        cluster.append(int(b))
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    order = np.argsort(ids)
    _write(
        {
            "doc_id": ids[order],
            "source": [sources[i] for i in order],
            "text": [texts[i] for i in order],
        },
        out / "docs",
        parts=8,
    )
    _write(
        {
            "doc_id": ids[order],
            "cluster_id": np.asarray(cluster, dtype=np.int64)[order],
            "lang": [langs[i] for i in order],
        },
        out / "truth.parquet",
    )


def corpus_inputs(seed: int, cache_root: Path, sizes: dict | None = None) -> Path:
    return _cached("corpus_prep", seed, sizes or CORPUS_SIZES, cache_root, _build_corpus)
