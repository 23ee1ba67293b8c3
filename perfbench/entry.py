"""The driver-query layer: ``bench.HEADLINE``'s 17 ``__spark_entry__.queries()``
entries over the TPC-H-style test tables in ``perfbench/data/sf0.01``.

One checked pass collects every result and compares it with the entry's
``oracle_sql()`` on DuckDB (row count, column names and an order-insensitive
value hash, normalised as ``tools/check_oracles.py`` does). That pass also
compiles the plans, so it is untimed. Timed passes then run each query
through the noop sink in a seed-permuted order, each inside its own span.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time

import duckdb

import __spark_entry__

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "sf0.01")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
# bench.HEADLINE
HEADLINE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q_window_dedup", "q_transitive_closure", "q_event_chain",
    "q_dedup_exact", "q_token_stats", "q_ngram_jaccard", "q_minhash_lsh",
    "q_knn_cosine", "q_pii_redact", "q_normalize_text", "q_weighted_mix",
    "q_token_budget_mix", "q_pack_sequences", "q_span_dedup",
)


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def result_hash(rows, cols) -> str:
    """Order-insensitive hash of a result: columns in name order, rows
    sorted, values normalised."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for line in sorted("|".join(_norm(r[i]) for i in order) for r in rows):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def check_against_oracles(spark, problems: list[str]) -> int:
    """Run every query once, collecting its result, and compare it with the
    DuckDB oracle. Returns the number of queries that raised."""
    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"parquet_scan('{DATA}/{t}.parquet')")
        failed = 0
        for name in HEADLINE:
            try:
                df = queries[name](spark, DATA)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:
                failed += 1
                problems.append(f"query {name} raised {e!r:.300}")
                continue
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            if (len(rows) != len(orows) or sorted(cols) != sorted(ocols)
                    or result_hash(rows, cols) != result_hash(orows, ocols)):
                problems.append(f"query {name}: {len(rows)} rows differ from "
                                f"the oracle's {len(orows)}")
        return failed
    finally:
        con.close()


def timed_passes(spark, tracer, rng, seconds: float, problems: list[str]):
    """Noop-sink passes over the 17 queries, each query in its own span,
    until ``seconds`` have elapsed, at least one. Returns ({metric: median
    ms}, query runs, failed runs)."""
    queries = __spark_entry__.queries()
    ms = {q: [] for q in HEADLINE}
    runs = failed = 0
    start = time.perf_counter()
    while runs == 0 or time.perf_counter() - start < seconds:
        order = list(HEADLINE)
        rng.shuffle(order)
        for q in order:
            runs += 1
            try:
                tracer.run(f"spark_entry.{q}",
                           lambda q=q: queries[q](spark, DATA).write
                           .format("noop").mode("overwrite").save())
            except Exception as e:  # a failed query is a counted failure
                failed += 1
                problems.append(f"query {q} raised {e!r:.300}")
                continue
            ms[q].append(tracer.spans[-1].seconds * 1000.0)
    return ({f"spark_entry.{q}_ms": statistics.median(v)
             for q, v in ms.items() if v}, runs, failed)
