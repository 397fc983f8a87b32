"""The operator layer: one declared query of ``__spark_entry__.queries()``
for each operator module the pipeline never calls, each checked against
its ``oracle_sql()`` run through DuckDB.  ``connected_components`` is not
among them: the pipeline's graph stage calls it, so the graph layer's
metrics already cover it.

The queries read ``documents``, ``embeddings`` and ``lineitem`` from a
table directory.  ``write_tables`` generates seeded tables with the
columns the queries use (the shapes of the package's small test data) in
the run's work directory, and the gate fixtures the ``pq`` query reads are
written there too, so a run reads nothing outside its checkout.
"""

from __future__ import annotations

import decimal
import functools
import math
import os
import random
from unittest import mock

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# operator module -> the declared query that exercises it
OP_QUERIES = {
    "similarity": "ann_knn_join",
    "pq": "ann_pq_topk",
    "graph_analytics": "graph_pagerank",
    "bpe": "text_bpe_merges",
    "dedup": "dedup_lsh_pairs",
    "freq": "freq_heavy_hitters",
    "packing": "pack_sequences",
}
OP_METRICS = {"wall_s": "s", "jobs": "count", "shuffle_bytes": "bytes"}
TABLES = ("documents", "embeddings", "lineitem")

N_DOCS = 500
DUP_SHARE = 0.05  # documents that repeat an earlier one plus a word
N_VECTORS = 500
DIM = 64
N_ORDERS = 600  # the graph query keeps orders below 300
N_PARTS = 2_000
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def write_tables(root: str, seed: int) -> str:
    """Seeded ``documents``, ``embeddings`` and ``lineitem`` parquet files
    under ``root``; returns ``root``."""
    rng = random.Random(f"operators:{seed}")
    os.makedirs(root, exist_ok=True)
    texts: list[str] = []
    for _ in range(N_DOCS):
        if texts and rng.random() < DUP_SHARE:
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 99))))
    docs = pd.DataFrame(
        {
            "doc_id": pd.Series(range(N_DOCS), dtype="int64"),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in texts],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
        }
    )
    emb = pd.DataFrame(
        {
            "vec_id": pd.Series(range(N_VECTORS), dtype="int64"),
            "embedding": [
                [rng.gauss(0.0, 0.125) for _ in range(DIM)] for _ in range(N_VECTORS)
            ],
            "label": pd.Series([rng.randrange(10) for _ in range(N_VECTORS)], dtype="int32"),
        }
    )
    lines = [
        (order, rng.randint(1, N_PARTS))
        for order in range(1, N_ORDERS + 1)
        for _ in range(rng.randint(1, 7))
    ]
    li = pd.DataFrame(lines, columns=["l_orderkey", "l_partkey"], dtype="int64")
    schemas = {
        "embeddings": pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
        )
    }
    for name, pdf in (("documents", docs), ("embeddings", emb), ("lineitem", li)):
        table = pa.Table.from_pandas(pdf, schema=schemas.get(name), preserve_index=False)
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root


def run_query(spark, query, table_dir: str, gate_dir: str):
    """Runs a declared query and collects it; returns ``(columns, rows)``.
    Gate fixtures go to ``gate_dir``."""
    from omop_concept_automapper_spark.fixtures import gatefiles

    local_gate = functools.partial(gatefiles.write_gate_fixtures, gate_dir)
    with mock.patch.object(gatefiles, "write_gate_fixtures", local_gate):
        df = query(spark, table_dir)
        return df.columns, [tuple(r) for r in df.collect()]


def check_query(con, sql: str, columns, rows) -> str | None:
    """None when ``rows`` equal the oracle ``sql`` run on the DuckDB
    connection ``con`` (order-insensitive, columns by name, exact values);
    otherwise what differs."""
    rel = con.sql(sql)
    want = _canon(rel.columns, rel.fetchall())
    got = _canon(columns, rows)
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"{len(got[1])} rows != oracle's {len(want[1])} (or values differ)"
    return None


def _canon_value(v):
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    return v


def _canon(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    return sorted(columns), sorted(out, key=repr)


def operator_pass(spark, tracer, work_dir: str, seed: int) -> list[tuple[bool, str]]:
    """One pass over the declared queries on seeded tables, each query in
    its own span ``op.<query>``; the oracle checks run after the pass,
    outside the spans.  Returns one ``(ok, why)`` per query."""
    import duckdb

    import __spark_entry__ as entry

    table_dir = write_tables(os.path.join(work_dir, "op-tables"), seed)
    gate_dir = os.path.join(work_dir, "op-gate")
    queries = entry.queries()
    results = {}
    for name in OP_QUERIES.values():
        with tracer.span(f"op.{name}"):
            results[name] = run_query(spark, queries[name], table_dir, gate_dir)
    oracles = entry.oracle_sql()
    checks = []
    with duckdb.connect() as con:
        for t in TABLES:
            path = os.path.join(table_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name, (columns, rows) in results.items():
            why = check_query(con, oracles[name], columns, rows)
            checks.append((why is None, f"{name}: {why or f'{len(rows)} rows equal oracle_sql'}"))
    return checks
