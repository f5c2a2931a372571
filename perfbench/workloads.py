"""The benchmark's workloads: what one op is and which ops make a round.

Every workload is a closed loop with one client. A run is a seeded
order of whole rounds; the round count follows ``--seconds`` at a fixed
rate per workload, so a run's op count never depends on how fast the
code under test happens to be.

- ``query``: batch registry keys plus month reloads. A key op calls the
  key, runs a ``noop`` write, then ``clearCache`` and
  ``pinning.release_pins``. An ingest op is ``io.ingest_trips`` of one
  month file into a month-partitioned target that already holds that
  month (the idempotent reload).
- ``stream``: the d keys that run streaming triggers, same op shape as
  a key op.
"""

from __future__ import annotations

PACKAGE = "nyc_taxi_data_engineering_project_spark"

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Scale of the generated query tables (lineitem = 6M x SF rows).
SF = 0.02

# Few distinct ops, repeated: per-key latency on a 4-core host moves
# 15-20% between fresh JVMs, and a median over one pass of many different
# keys jumps from key to key, so each run repeats a small mix rather than
# touching many keys once. Each mix has five ops in three cost tiers
# (two cheap, two middle, one dear), so the median op falls inside the
# middle tier rather than on the gap between two tiers.
#
# query: op -> tables it reads; rows per op are the summed rows of those
# tables. Cheap: TPC-H q3 (join + aggregate, shuffles) and an Arrow
# pandas UDF (Python workers); middle: the write-side twin of the reads,
# reloads of one green (lpep_*) and one yellow (tpep_*) month file; dear:
# the f2 MinHash chain (pins). No d keys.
INGEST_MONTHS = ("2024-01", "2024-02")
ROWS_PER_MONTH = 25_000
INGEST_PREFIX = "ingest:"
QUERY_MIX = {
    "tpch_q3": ("customer", "lineitem", "orders"),
    "e2_pandas_udf": ("lineitem",),
    "f2_minhash_dedup": ("documents",),
    **{INGEST_PREFIX + m: () for m in INGEST_MONTHS},
}

# stream: trigger-machinery keys. Cheap: an availableNow replay (d1) and
# the foreachBatch sink (d10); middle: the watermarked window aggregate
# (d2) and the evictable-state dedup (d12); dear: the layout publish
# (d14). The Python streaming source (d13) costs as much as d14 again
# per round and its Python workers are measured on query's e2, so it is
# left out to buy more timed rounds.
STREAM_MIX = {
    "d1_stream_source": ("events",),
    "d10_foreachbatch": ("events",),
    "d2_watermark": ("events",),
    "d12_dedup_within_watermark": ("events",),
    "d14_stream_layout_maintenance": ("orders",),
}

# Untimed passes over the mix before the first timed op. The first pass
# compiles (codegen, class loading, Python-worker spawn) and costs 3-4
# steady rounds; the round after it is still ~40% slower than steady
# while HotSpot compiles the hot paths, so a second pass runs untimed too.
WARM_ROUNDS = 2

# Seconds of --seconds that buy one round, about a steady round's wall on
# a 4-core host (query ~4.5 s, stream ~4.8 s): the declared 16 s buys
# four rounds of each.
SECONDS_PER_ROUND = {"query": 4.0, "stream": 4.0}

WORKLOADS = ("query", "stream")


def rounds_for(workload: str, seconds: float) -> int:
    return max(1, int(seconds // SECONDS_PER_ROUND[workload]))
