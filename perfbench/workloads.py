"""The benchmark's workloads: which catalog queries each one runs, and why.

Every workload is a fixed list of ``__spark_entry__.queries()`` names run
against the same read-only sf0.1 tables. The run seed only permutes the
order of the queries within each pass. The lists are subsets of the
catalog sized so that one run (set-up, the cold pass with its correctness
gate, the warm-up passes and the timed window) fits the benchmark's time
budget on a 4-core host. ``warmup_passes`` untimed passes follow the cold
pass, so the timed window starts where the pass walls have stopped falling
steeply as the JIT compiles.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # Catalyst-native Datamancer verbs over the shared cached tables. No
    # query materializes or crosses into Python, so this workload sits on
    # the job-launch and planning floor and bypasses the materialize and
    # Arrow-boundary mechanisms: it is the "no change" side for them.
    # It is not in BENCHMARK.json's list: the gated runs' time budget
    # holds two workloads, and iterative and roundtrip between them cover
    # every layer. Run it by name.
    "verbs": {
        "why": "Catalyst-native verbs and TPC-H shapes; no materialize, no Python node: the planning floor",
        "queries": [
            "q1_pricing_summary",
            "q6_revenue_delta",
            "q13_order_count_dist",
            "summarize_stats",
            "spread_pivot",
            "arrange_head",
            "sql_interface",
            "events_hourly",
        ],
        "warmup_passes": 2,
    },
    # The iterative tier: almost all of its wall is construction-time
    # eager pins (session.materialize) and driver round-trips, i.e. the
    # pin-versus-recompute trade. hits_links pins twice per round and
    # fires ~100 construction jobs.
    "iterative": {
        "why": "HITS: construction-time eager pins and driver round-trips dominate the wall: the materialize layer; no Python node, no writes",
        "queries": ["hits_links"],
        # its ~100 jobs a pass keep the JIT compiling for tens of seconds:
        # on a 4-core host pass walls fall from ~4 s to ~2.6 s over the
        # first six passes, then flatten
        "warmup_passes": 4,
    },
    # Writes beside reads: the JSONL (Spark's own writer and reader) and
    # Avro (the engine's codec behind mapInPandas) write-then-read gates
    # and a replay through the streaming engine, so a gain on the io read
    # path that costs its write path shows here.
    "roundtrip": {
        "why": "io write-then-read gates (JSONL, Avro via mapInPandas) and a streaming replay: write path, Arrow boundary, streaming; no materialize",
        "queries": [
            "jsonl_roundtrip_agg",
            "avro_roundtrip_agg",
            "streaming_hourly_replay",
        ],
        "warmup_passes": 2,
    },
}
