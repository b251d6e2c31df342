"""Output checks made outside Spark.

Query results are compared with their DuckDB twins (``sift_spark.oracle``)
by row count, column names and the order-insensitive value hash of
``tests/parity.py``. Training shards are read back by DuckDB and checked
against oracle computations over the same input documents.

Every checker returns a list of problems; an empty list means the
output is correct.
"""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from tests.parity import _pandas_rows, value_hash


def result_digest(pdf: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    cols = list(pdf.columns)
    return len(pdf), tuple(sorted(cols)), value_hash(_pandas_rows(pdf), cols)


def check_query(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    return compare_digests(result_digest(spark_pdf), result_digest(duck_pdf))


def compare_digests(s, d) -> list[str]:
    problems = []
    if s[0] != d[0]:
        problems.append(f"row count {s[0]} != oracle {d[0]}")
    if s[1] != d[1]:
        problems.append(f"columns {list(s[1])} != oracle {list(d[1])}")
    if s[2] != d[2]:
        problems.append("value hash differs from oracle")
    return problems


def eval_split_ids(doc_ids, ppm: int) -> set[int]:
    """Doc ids the pipeline holds out for evaluation: the ``split`` hash
    bucket of ``sampling.hash_bucket`` (first 15 hex digits of md5)
    below ``ppm`` parts per million, recomputed in Python."""
    out = set()
    for d in doc_ids:
        h = int(hashlib.md5(f"split:{d}".encode()).hexdigest()[:15], 16)
        if h % 1_000_000 < ppm:
            out.add(int(d))
    return out


def shard_manifest(shard_dir: str) -> list[tuple[str, int, str]]:
    """(shard directory, rows, order-insensitive content hash) per shard."""
    out = []
    for part in sorted(glob.glob(os.path.join(shard_dir, "__shard=*"))):
        tbl = pq.read_table(part).to_pandas()
        _, _, h = result_digest(tbl)
        out.append((os.path.basename(part), len(tbl), h))
    return out


def shard_bytes(shard_dir: str) -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(shard_dir, "**", "*.parquet"), recursive=True))


def check_shards(shard_dir: str, data_dir: str, *, max_tokens: int,
                 eval_ppm: int, min_quality: float) -> list[str]:
    """Check exported training shards against the input documents."""
    from sift_spark.oracle import ORACLE

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, 'documents.parquet')}')")
    con.sql(f"CREATE VIEW shards AS SELECT * FROM read_parquet("
            f"'{os.path.join(shard_dir, '**', '*.parquet')}', hive_partitioning = true)")

    def one(sql: str) -> int:
        return int(con.sql(sql).fetchone()[0])

    problems = []
    n = one("SELECT count(*) FROM shards")
    if n == 0:
        return ["the shards hold no rows"]
    if one("SELECT count(*) - count(DISTINCT doc_id) FROM shards"):
        problems.append("duplicate doc_id in shards")
    if one("SELECT count(*) - count(DISTINCT text) FROM shards"):
        problems.append("duplicate text in shards")
    if one("SELECT count(*) FROM shards s ANTI JOIN documents d "
           "ON s.doc_id = d.doc_id AND s.text = d.text "
           "AND s.lang = d.lang AND s.source = d.source"):
        problems.append("shard rows absent from documents")
    if one(f"WITH g AS ({ORACLE['gopher_rules']}) SELECT count(*) FROM shards s "
           "LEFT JOIN g USING (doc_id) WHERE g.passes IS NOT TRUE"):
        problems.append("shard docs failing the gopher_rules oracle")
    if one(f"WITH q AS ({ORACLE['quality_score']}) SELECT count(*) FROM shards s "
           f"LEFT JOIN q USING (doc_id) WHERE coalesce(q.score < {min_quality}, true)"):
        problems.append(f"shard docs scoring below {min_quality} on the quality_score oracle")
    if one(f"WITH t AS ({ORACLE['corpus_tokens']}) SELECT count(*) FROM shards s "
           "LEFT JOIN t USING (doc_id) WHERE s.n_tokens IS DISTINCT FROM t.n_toks"):
        problems.append("n_tokens differs from the corpus_tokens oracle")
    # gap-free packing: within a shard, each doc starts where the
    # previous one (in token-stream order) ended
    if one(f"""
        WITH p AS (
          SELECT shard_id, n_tokens, bin_id * {max_tokens} + bin_offset AS pos
          FROM shards
        ), c AS (
          SELECT pos, coalesce(sum(n_tokens) OVER (
                   PARTITION BY shard_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS expect
          FROM p
        )
        SELECT count(*) FROM c WHERE pos <> expect"""):
        problems.append("packing gap or overlap within a shard")
    ids = [r[0] for r in con.sql("SELECT doc_id FROM shards").fetchall()]
    if eval_split_ids(ids, eval_ppm):
        problems.append("eval-split docs in shards")
    return problems
