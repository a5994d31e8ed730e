"""Synthetic scale-factor generator for PERFORMANCE evidence beyond
the driver-provided sfs (TESTDATA.md tops out at sf0.1; /root/testdata
is read-only).

Mirrors the driver tables' schemas and measured distributions --
profiled from sf0.1 with DuckDB: 31-word document vocabulary, doc
lengths U(10,100) words, events Exp(mean 50) values over a 30-day
January-2024 span with 10x-scaling user counts, unit-normalized
isotropic 64-dim embeddings, TPC-H-ish key ranges (customer 150k*sf,
part 200k*sf, orders 1.5M*sf, lineitem ~4.075 lines/order via
U(1..7)) -- so plans built for the driver data hit the same strategy
thresholds and selectivities at 10x the rows. NOT for correctness
oracles (the driver's sf0.01 gate stays canonical); this exists so the
SCALE.md sweep spans a true 1000x (sf0.001 -> sf1) instead of 100x.

Usage: python tools/gen_testdata.py [--sf 1.0] [--out DIR]
(``--out`` defaults to ``testdata_sf1/`` at the repo root.)
Deterministic (numpy PCG64 seed 42); ~170 MB at sf1.

Round-9 extensions (VERDICT r8 items 1 and 4):

* ``--docs-only`` emits only documents + embeddings -- the sf10
  corpus (500k docs) exists for the dedup/pipeline scale decade and
  the relational tables can stay at sf1; skipping the 15M-row
  lineitem draw makes sf10 generation minutes, not an hour. NOTE:
  skipping the earlier tables advances the shared rng differently, so
  a docs-only corpus is a DIFFERENT (equally distributed) draw than
  the documents table of a full run at the same sf.
* ``--multiline-frac p`` rewrites fraction p of docs into 4-line
  pages with a shared boilerplate header/footer line planted, so the
  LINE-grain curation rules (c4_line_clean, boilerplate removal,
  Gopher dup-line fractions) have real newline text to chew on
  beyond the single-line driver corpus. Default 0 keeps every
  existing corpus byte-reproducible.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.412, 0.140, 0.149, 0.148, 0.151]  # measured sf0.1 shares
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "PROMO", "SMALL"]
P_ADJ = ["large", "hot", "blue", "red", "small", "green", "dim", "shiny"]
P_NOUN = ["ring", "bolt", "gear", "wheel", "cap", "rod", "plate", "pin"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US = 1_000_000  # micros per second


def write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    print(f"  {name}: {table.num_rows} rows")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0)
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "testdata_sf1"
        ),
    )
    ap.add_argument("--docs-only", action="store_true")
    ap.add_argument("--events-only", action="store_true")
    ap.add_argument(
        "--span-days", type=int, default=30,
        help="event timestamp span (default 30 days of Jan 2024, the "
        "driver-profiled shape); larger values stretch the same event "
        "volume over a multi-year history so the year-partitioned "
        "window/cumsum designs see many day rows and year partitions",
    )
    ap.add_argument(
        "--zipf-s", type=float, default=0.0,
        help="when > 0, draw document words Zipf-distributed over the "
        "vocabulary with this exponent (s~1.1 + --vocab 100000 "
        "approximates web-text rank-frequency); 0 keeps the uniform "
        "draw and byte-reproducibility of existing corpora",
    )
    ap.add_argument("--multiline-frac", type=float, default=0.0)
    ap.add_argument(
        "--vocab",
        type=int,
        default=len(VOCAB),
        help="document vocabulary size: 31 (default) reproduces the "
        "driver-profiled SATURATED corpus where long docs' tf vectors "
        "all converge to the vocab distribution and the true near-dup "
        "pair set is ~quadratic by construction; larger values append "
        "deterministic letter-words so similarity structure matches "
        "real (vocabulary-rich) text -- near-dups rare, pipelines "
        "plan-scalable",
    )
    args = ap.parse_args()
    sf = args.sf
    os.makedirs(args.out, exist_ok=True)
    rng = np.random.default_rng(42)

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = int(50_000 * sf)
    n_vec = int(20_000 * sf)

    if args.docs_only:
        _write_docs(args, rng, n_docs, n_vec)
        return
    if args.events_only:
        # the round-10 events-family probe corpus (10M rows at sf10)
        # without the 15M-order / 61M-lineitem draw; same rng caveat
        # as --docs-only (a different, equally distributed draw)
        _write_events(args, rng, n_ev, n_users)
        return

    # dims
    write(args.out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    write(args.out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    write(args.out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }))
    write(args.out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    }))
    adj = np.array(P_ADJ)[rng.integers(0, len(P_ADJ), n_part)]
    noun = np.array(P_NOUN)[rng.integers(0, len(P_NOUN), n_part)]
    write(args.out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2),
    }))

    # orders: dates uniform 1995-01-01 .. 2001-08-01
    d0 = np.datetime64("1995-01-01")
    odays = rng.integers(0, 2405, n_ord)
    odate = (d0 + odays.astype("timedelta64[D]")).astype("datetime64[us]")
    write(args.out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)]),
    }))

    # lineitem: U(1..7) lines per order, shipdate = orderdate + U(1..95)d
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = (np.repeat(odate, lines)
            + rng.integers(1, 96, n_li).astype("timedelta64[D]").astype("timedelta64[us]"))
    write(args.out, "lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": ship,
    }))

    _write_events(args, rng, n_ev, n_users)

    _write_docs(args, rng, n_docs, n_vec)


def _write_events(args, rng, n_ev: int, n_users: int) -> None:
    # events: --span-days (default 30) from 2024-01-01 backward-compat
    # start for the default span; multi-year spans start earlier so
    # they still end in 2024 (keeps date filters in queries sensible)
    span_days = getattr(args, "span_days", 30)
    if span_days <= 30:
        t0 = np.datetime64("2024-01-01T00:00:00")
    else:
        t0 = (np.datetime64("2024-01-31T00:00:00")
              - np.timedelta64(span_days, "D")).astype("datetime64[s]")
    span_us = span_days * 86400 * US
    ts = t0 + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    ks = rng.integers(0, 100, n_ev)
    write(args.out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in ks]),
    }))


# Boilerplate lines planted by --multiline-frac: the web-page chrome
# the line-grain curation rules exist to strip -- shared with the
# curation certificates so corpus and query cannot drift (VERDICT r9
# item 7). chrome.py is loaded DIRECTLY from its file (it has zero
# dependencies): importing it through the package would pull the
# whole engine incl. pyspark into this numpy/pyarrow-only generator.
import importlib.util as _ilu

_chrome_spec = _ilu.spec_from_file_location(
    "cats_chrome",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "conversation_analysis_tools_spark", "functions", "chrome.py",
    ),
)
_chrome = _ilu.module_from_spec(_chrome_spec)
_chrome_spec.loader.exec_module(_chrome)
BOILER_HEADER = _chrome.BOILER_HEADER
BOILER_FOOTER = _chrome.BOILER_FOOTER


def _letter_word(i: int) -> str:
    s = ""
    for _ in range(4):
        s += chr(97 + i % 26)
        i //= 26
    return "v" + s  # 5 letters, [a-z]{3,}-tokenizer-safe, digit-free


def _write_docs(args, rng, n_docs: int, n_vec: int) -> None:
    vocab = list(VOCAB) + [
        _letter_word(i) for i in range(max(0, args.vocab - len(VOCAB)))
    ]
    # documents: U(10,100)-word soup over the vocabulary
    wc = rng.integers(10, 101, n_docs)
    if args.zipf_s > 0.0:
        # Zipf rank-frequency draw (round 10, VERDICT r9 item 5): the
        # uniform 31/4096-word vocabularies bracket df but match
        # neither real text's Zipf tail nor its shingle statistics --
        # and the r7 prefix-filter reversal proved plan conclusions
        # can flip with the df distribution. p(rank) ~ 1/rank^s over
        # the full vocab; s~1.1, 100k types approximates web text.
        ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
        p = ranks ** (-args.zipf_s)
        p /= p.sum()
        idx = rng.choice(len(vocab), int(wc.sum()), p=p)
    else:
        idx = rng.integers(0, len(vocab), int(wc.sum()))
    words = np.array(vocab)[idx]
    bounds = np.cumsum(wc)[:-1]
    texts = [" ".join(chunk) for chunk in np.split(words, bounds)]
    if args.multiline_frac > 0.0:
        # rewrite a deterministic slice into 4-line pages with shared
        # boilerplate chrome (header + footer) around two body lines;
        # the body keeps the original words so corpus-level token
        # stats stay comparable to the single-line draw
        ml = rng.random(n_docs) < args.multiline_frac
        for i in np.flatnonzero(ml):
            w = texts[i].split(" ")
            h = max(1, len(w) // 2)
            texts[i] = "\n".join(
                [BOILER_HEADER, " ".join(w[:h]), " ".join(w[h:]), BOILER_FOOTER]
            )
    write(args.out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: isotropic unit-norm 64-dim float32, labels U(0..9)
    v = rng.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(args.out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }))


if __name__ == "__main__":
    main()
