#!/usr/bin/env python3
"""Build a 10x (sf1-equivalent) stress corpus for the dominant-shuffle
queries (dev tool; r11 verdict item 8: turn "no spill at sf0.1" into a
measured scaling exponent).

Shape-preserving scaling: the 10x corpus is TEN DISJOINT REPLICAS of
sf0.1, not ten literal copies —
  - documents: every token gets a per-replica suffix (disjoint vocab), so
    window/bigram/shingle distributions are 10 independent shards of the
    original: distinct windows scale 10x, per-window doc-frequency is
    UNCHANGED. A literal copy would instead mark every window a duplicate
    (df >= 10) and morph the workload, not scale it.
  - events: user ids offset and timestamps shifted +365d per replica, so
    (day, event_type) co-occurrence buckets stay replica-disjoint: bucket
    count scales 10x at constant bucket size. Sharing days would make
    each bucket 10x BIGGER -> 100x pair fan-out, a different (quadratic)
    experiment.
Remaining tables are copied verbatim (Bench's warmup and the loader read them).

Usage: python3 tools/scale10.py [srcDir=/root/testdata/sf0.1] [dst=/tmp/sf1]
                                [replicas=10]

Round 13: the replica count is a parameter, so the same composer builds
the 100x (sf10-equivalent) corpus for the second measured scaling point:
    python3 tools/scale10.py /root/testdata/sf0.1 /tmp/sf10 100
(events -> 10M rows, documents -> 500k docs; offsets sized for 1000
replicas before id collision).
"""
import os
import shutil
import sys

import duckdb

src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
reps = int(sys.argv[3]) if len(sys.argv) > 3 else 10
os.makedirs(dst, exist_ok=True)

con = duckdb.connect()
con.execute("SET threads=8")

docs = " UNION ALL ".join(
    f"""SELECT doc_id + CAST({i * 1000000} AS BIGINT) AS doc_id,
          regexp_replace(text, '(\\S+)', '\\1{i}', 'g') AS text,
          lang, source,
          CAST(length(regexp_replace(text, '(\\S+)', '\\1{i}', 'g')) AS BIGINT)
            AS n_chars
        FROM read_parquet('{src}/documents.parquet')"""
    for i in range(reps))
con.execute(f"COPY ({docs}) TO '{dst}/documents.parquet' (FORMAT PARQUET)")

events = " UNION ALL ".join(
    f"""SELECT event_id + CAST({i * 100000000} AS BIGINT) AS event_id,
          ts + INTERVAL {i * 365} DAY AS ts,
          user_id + CAST({i * 10000000} AS BIGINT) AS user_id,
          event_type, value, props
        FROM read_parquet('{src}/events.parquet')"""
    for i in range(reps))
con.execute(f"COPY ({events}) TO '{dst}/events.parquet' (FORMAT PARQUET)")

# embeddings (round 14, ANN scaling point): replicas with disjoint ids and
# a small deterministic per-(vector, dim, replica) jitter, renormalized to
# unit length — literal copies would make every replica an exact duplicate
# (degenerate ties for ANN), while the jitter keeps the corpus isotropic
# and the intra-replica neighbourhood structure intact.
embs = " UNION ALL ".join(
    f"""SELECT vec_id + CAST({i * 10000000} AS BIGINT) AS vec_id,
          list_transform(jit, x -> CAST(x / nrm AS FLOAT)) AS embedding,
          label
        FROM (
          SELECT vec_id, label,
            list_transform(embedding,
              (x, j) -> x + ((hash(vec_id * 131 + j * 7 + {i} * 1000003)
                              % 1000) / 1000.0 - 0.4995) * 0.1) AS jit
          FROM read_parquet('{src}/embeddings.parquet'))
        , LATERAL (SELECT sqrt(list_sum(list_transform(jit, x -> x * x))) AS nrm)"""
    for i in range(reps))
con.execute(f"COPY ({embs}) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)")

# orders (round 16, r15 verdict item 6: a composed-scale point for the
# GlobalRank-kernel corpus queries agg_cdf / agg_ks_test): disjoint order
# keys, dates shifted +365d per replica, and a small deterministic price
# jitter (< 1 cent) so the DISTINCT o_totalprice value frame grows ~Nx —
# the distinct-value growth is exactly what the distributed prefix-sum
# kernel exists for; literal copies would keep the value domain constant
# and measure nothing.
orders = " UNION ALL ".join(
    f"""SELECT o_orderkey + CAST({i * 100000000} AS BIGINT) AS o_orderkey,
          o_custkey, o_orderstatus,
          round(o_totalprice +
            (hash(o_orderkey * 131 + {i} * 1000003) % 1000) / 100000.0,
            4) AS o_totalprice,
          o_orderdate + INTERVAL {i * 365} DAY AS o_orderdate,
          o_orderpriority
        FROM read_parquet('{src}/orders.parquet')"""
    for i in range(reps))
con.execute(f"COPY ({orders}) TO '{dst}/orders.parquet' (FORMAT PARQUET)")

for t in ("region", "nation", "customer", "supplier", "part", "lineitem"):
    shutil.copyfile(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")

for t in ("documents", "events", "embeddings", "orders"):
    n = con.execute(f"SELECT count(*) FROM read_parquet('{dst}/{t}.parquet')").fetchone()[0]
    print(f"{t}: {n} rows -> {dst}")
