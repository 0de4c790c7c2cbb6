"""Seeded inputs for the warehouse benchmark.

Everything the engine receives is made here from the run's seed: the
TPC-H-shaped tables, the TPC-H substitution parameters, the lookup keys
(half uniform, half Zipf-hot) and the nightly CSV batches with a planted
share of malformed rows.  The same seed always gives the same inputs.

Value domains follow the engine's test data (TESTDATA.md): nations are
``NATION_<n>``, order dates span 1995-2001, parts are ``<adjective> <noun>``
with one of six types and 25 brands.  The corpus tables (``documents`` and
``embeddings``) come from a fixed seed so that corpus jobs without a DuckDB
oracle can be checked against recorded digests.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed seed of the corpus tables; ``digests.json`` was recorded on them.
CORPUS_SEED = 7

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "old", "hot", "large", "cold", "small", "new", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - EPOCH).days

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch line "
    "sort window spark order data column join small query customer stream "
    "filter group big index page cache disk node shard plan cost"
).split()


def scale_rows(orders: int) -> dict[str, int]:
    """Row counts for a given number of orders (TPC-H ratios)."""
    return {
        "customer": max(orders // 10, 50),
        "supplier": max(orders // 150, 10),
        "part": max(orders * 2 // 15, 80),
        "orders": orders,
    }


def _dates(days: np.ndarray) -> pa.Array:
    base = np.datetime64(EPOCH.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def write_tpch(out_dir: str, seed: int, orders: int) -> dict[str, int]:
    """Write the TPC-H-shaped tables; returns the row count of each."""
    rng = np.random.default_rng(seed)
    n = scale_rows(orders)
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    nc = n["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
    }))
    ns = n["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    }))
    npart = n["part"]
    price = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(ADJECTIVES, npart), rng.choice(NOUNS, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 41, npart), pa.int32()),
        "p_retailprice": price,
    }))
    odays = rng.integers(0, ORDER_DAYS + 1, orders)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, orders), 2),
        "o_orderdate": _dates(odays),
        "o_orderpriority": rng.choice(PRIORITIES, orders).tolist(),
    }))
    lines = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders), lines)
    nl = len(okey)
    linenumber = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype(float)
    partkey = rng.integers(0, npart, nl)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey] * rng.uniform(1.0, 2.1, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _dates(odays[okey] + rng.integers(1, 122, nl)),
    }))
    return {**n, "lineitem": nl}


def write_corpus(out_dir: str, docs: int, vectors: int) -> None:
    """Write ``documents`` (with exact and near duplicates and planted
    PII) and ``embeddings`` (ten Gaussian clusters), from CORPUS_SEED."""
    rng = np.random.default_rng(CORPUS_SEED)
    texts: list[str] = []
    for i in range(docs):
        r = rng.random()
        if texts and r < 0.1:
            texts.append(texts[rng.integers(0, len(texts))])  # exact duplicate
            continue
        if texts and r < 0.25:
            base = texts[rng.integers(0, len(texts))].split()
            for j in rng.integers(0, len(base), max(1, len(base) // 12)):
                base[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(base))  # near duplicate
            continue
        words = rng.choice(WORDS, rng.integers(8, 80)).tolist()
        if r > 0.9:
            k = rng.integers(0, len(words))
            words.insert(k, rng.choice([
                f"user{i}@example.com",
                f"555-{rng.integers(100, 999)}-{rng.integers(1000, 9999)}",
                f"{rng.integers(100, 999)}-{rng.integers(10, 99)}-{rng.integers(1000, 9999)}",
                f"10.{rng.integers(0, 255)}.{rng.integers(0, 255)}.{rng.integers(1, 255)}",
            ]))
        texts.append(" ".join(words))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], docs).tolist(),
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    labels = rng.integers(0, 10, vectors)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (vectors, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(range(vectors), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))


# --- TPC-H substitution parameters -------------------------------------


def _day(rng, lo: dt.date, hi: dt.date) -> dt.date:
    return lo + dt.timedelta(days=int(rng.integers(0, (hi - lo).days + 1)))


def _month(rng, first_year: int, last_year: int, months: int = 1) -> tuple[str, str]:
    y = int(rng.integers(first_year, last_year + 1))
    m = int(rng.integers(1, 13 - months + 1)) if months < 12 else 1
    end_m, end_y = m + months, y
    if end_m > 12:
        end_m, end_y = end_m - 12, y + 1
    return f"{y}-{m:02d}-01", f"{end_y}-{end_m:02d}-01"


def tpch_substitutions(rng) -> dict[str, dict[str, str]]:
    """Per-query maps from a literal in the engine's query text to its
    replacement.  A literal the text no longer contains is skipped; the
    result is checked against DuckDB on the substituted text either way."""
    nations = rng.permutation(25)
    nat = [f"'NATION_{k}'" for k in nations[:3]]
    region = f"'{REGIONS[rng.integers(0, 5)]}'"
    ptype = f"'{PART_TYPES[rng.integers(0, 6)]}'"
    brands = [f"'Brand#{b}'" for b in rng.permutation(np.arange(1, 26))[:4]]
    q1 = _day(rng, dt.date(1997, 6, 1), dt.date(2001, 6, 1)).isoformat()
    y = int(rng.integers(1995, 2001))
    q3 = _day(rng, dt.date(1996, 1, 1), dt.date(2000, 12, 1)).isoformat()
    q4 = _month(rng, 1995, 2000, 3)
    q5 = _month(rng, 1995, 2000, 12)
    disc = int(rng.integers(2, 9))
    q10 = _month(rng, 1995, 2000, 3)
    q12 = _month(rng, 1995, 2000, 12)
    q14 = _month(rng, 1995, 2000, 1)
    q15 = _month(rng, 1995, 2000, 3)
    q20 = _month(rng, 1995, 2000, 12)
    sizes = sorted(int(s) for s in rng.permutation(np.arange(1, 41))[:8])
    return {
        "q1": {"'1998-09-02'": f"'{q1}'"},
        "q2": {"p_size = 15": f"p_size = {rng.integers(1, 41)}",
               "'STANDARD'": ptype, "'EUROPE'": region},
        "q3": {"'BUILDING'": f"'{SEGMENTS[rng.integers(0, 5)]}'",
               "'1998-06-01'": f"'{q3}'"},
        "q4": {"'1997-07-01'": f"'{q4[0]}'", "'1997-10-01'": f"'{q4[1]}'"},
        "q5": {"'ASIA'": region, "'1996-01-01'": f"'{q5[0]}'",
               "'1997-01-01'": f"'{q5[1]}'"},
        "q6": {"'1996-01-01'": f"'{y}-01-01'", "'1997-01-01'": f"'{y + 1}-01-01'",
               "between 0.05 and 0.07": f"between 0.0{disc - 1} and 0.0{disc + 1}",
               "l_quantity < 24": f"l_quantity < {rng.integers(24, 26)}"},
        "q7": {"'NATION_3'": nat[0], "'NATION_7'": nat[1],
               "'1996-01-01'": f"'{y}-01-01'", "'1997-12-31'": f"'{y + 1}-12-31'"},
        "q8": {"'NATION_5'": nat[0], "'AMERICA'": region, "'ECONOMY'": ptype,
               "'1996-01-01'": f"'{y}-01-01'", "'1997-12-31'": f"'{y + 1}-12-31'"},
        "q9": {"'%gear%'": f"'%{NOUNS[rng.integers(0, 8)]}%'"},
        "q10": {"'1997-01-01'": f"'{q10[0]}'", "'1997-04-01'": f"'{q10[1]}'"},
        "q11": {"'NATION_3'": nat[0]},
        "q12": {"'1997-01-01'": f"'{q12[0]}'", "'1998-01-01'": f"'{q12[1]}'"},
        "q13": {"'%URGENT%'": f"'%{rng.choice(['URGENT', 'HIGH', 'LOW'])}%'"},
        "q14": {"'1997-09-01'": f"'{q14[0]}'", "'1997-10-01'": f"'{q14[1]}'"},
        "q15": {"'1997-01-01'": f"'{q15[0]}'", "'1997-04-01'": f"'{q15[1]}'"},
        "q16": {"'Brand#1'": brands[0],
                "'MEDIUM%'": f"'{PART_TYPES[rng.integers(0, 6)]}%'",
                "(1, 4, 7, 10, 15, 23, 45, 49)": "(" + ", ".join(map(str, sizes)) + ")"},
        "q17": {"'Brand#23'": brands[1], "p_size = 7": f"p_size = {rng.integers(1, 41)}"},
        "q18": {"> 200": f"> {rng.integers(190, 221)}"},
        "q19": {"'Brand#3'": brands[1], "'Brand#15'": brands[2], "'Brand#24'": brands[3]},
        "q20": {"'small%'": f"'{ADJECTIVES[rng.integers(0, 8)]}%'", "'NATION_3'": nat[2],
                "'1997-01-01'": f"'{q20[0]}'", "'1998-01-01'": f"'{q20[1]}'"},
        "q21": {"'NATION_1'": nat[1]},
        "q22": {},
    }


def substitute(text: str, subs: dict[str, str]) -> str:
    """Replace every literal of ``subs`` in one pass, so a replacement is
    never itself replaced."""
    if not subs:
        return text
    pattern = re.compile("|".join(re.escape(k) for k in sorted(subs, key=len, reverse=True)))
    return pattern.sub(lambda m: subs[m.group(0)], text)


# --- lookup keys ---------------------------------------------------------


def lookup_keys(rng, n_keys: int, count: int, zipf_s: float = 1.2) -> np.ndarray:
    """``count`` keys in [0, n_keys): even positions uniform, odd positions
    Zipf-hot over a seeded permutation of the key space."""
    hot = rng.permutation(n_keys)
    ranks = np.minimum(rng.zipf(zipf_s, count), n_keys) - 1
    uniform = rng.integers(0, n_keys, count)
    return np.where(np.arange(count) % 2 == 0, uniform, hot[ranks])


# --- nightly CSV batches -------------------------------------------------


def orders_batch(rng, first_key: int, rows: int, n_cust: int, bad_share: float):
    """One nightly ``orders`` batch as CSV lines (no header, ``,``
    separated).  Returns ``(lines, good_rows)``; ``good_rows`` holds the
    well-formed rows as tuples in table column order."""
    lines, good = [], []
    bad = set(rng.choice(rows, int(round(rows * bad_share)), replace=False).tolist())
    for i in range(rows):
        key = first_key + i
        day = EPOCH + dt.timedelta(days=int(rng.integers(0, ORDER_DAYS + 1)))
        row = (
            key,
            int(rng.integers(0, n_cust)),
            str(rng.choice(["F", "O", "P"])),
            round(float(rng.uniform(1000.0, 500000.0)), 2),
            dt.datetime.combine(day, dt.time()),
            str(rng.choice(PRIORITIES)),
        )
        fields = [str(row[0]), str(row[1]), row[2], f"{row[3]:.2f}",
                  row[4].strftime("%Y-%m-%d %H:%M:%S"), row[5]]
        if i in bad:
            if rng.random() < 0.5:
                fields[3] = "n/a"  # uncastable number
            else:
                fields = fields[:4]  # short row
        else:
            good.append(row)
        lines.append(",".join(fields))
    return lines, good
