"""Workload definitions: which queries each workload runs, the seeded
operation schedule, and the metric names and units the benchmark prints.

Everything here is pure Python (no Spark), so the schedule and the ledger
replay can be unit-tested and recomputed independently of the program.
"""

from __future__ import annotations

import random

# The nightly job, in the paper's order: signal generation (scanner,
# enrichment, news), execution-policy selection (consensus, trader), outcome
# measurement (win tracker).
NIGHTLY_CHAIN = (
    "scanner_rank",
    "enrichment_pipeline",
    "enrichment_news_rollup",
    "consensus_tally",
    "trader_pipeline",
    "wintracker_pipeline",
)

# Analyst queries: a few each from the indicator panel, execution
# simulation, finance statistics and cohort aggregates, and one text kernel
# from each of the textops, curation and similarity modules, as a corpus
# analyst runs them ad hoc. The list is short and every query is cheap, so a
# run can repeat each several times after the warm-up has collected and
# checked each once; the heavy analyst queries (sweep_grid_full,
# monte_carlo_paths) would each cost as much as the rest together.
# simhash_pairs reads a session-shared frame that the warm-up builds, so the
# timed queries only hit it.
RESEARCH_QUERIES = (
    "asof_entry_bar",
    "bracket_exit_scan",
    "sma_window",
    "bollinger_bands",
    "rsi_macd",
    "drawdown_stats",
    "beta_to_market",
    "vwap_running",
    "tier_tally",
    "token_stats",
    "pii_scrub",
    "simhash_pairs",
)

# The corpus-curation pass: the shingle -> MinHash -> bands -> pairs ->
# components chain, the packed vectors and the IVF index, and the
# Arrow/pandas text kernels.
CURATION_QUERIES = (
    "minhash_lsh_pairs",
    "neardup_components",
    "dedup_keep_best",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "exact_dedup",
    "text_quality",
    "lang_id_heuristic",
    "token_stats",
    "cosine_lsh_topk",
    "ivf_search_topk",
    "semantic_dedup",
    "corpus_curation_pipeline",
    "contamination_check",
    "pii_scrub",
    "seq_packing",
)

WORKLOAD_QUERIES = {
    "nightly": NIGHTLY_CHAIN,
    "research": RESEARCH_QUERIES,
    "curation": CURATION_QUERIES,
}

# Nights of history the ledger holds; each night adds one partition and the
# retention delete drops one, so the ledger's size stays level.
LEDGER_NIGHTS = 60
# Outcomes of a night's signals are known this many nights later.
OUTCOME_LAG = 3

# Query modules whose calls the traced run times, by module name.
QUERY_MODULES = (
    "pipelines",
    "aggregates",
    "execution",
    "windows",
    "timeseries",
    "finance",
    "similarity",
    "textops",
    "curation",
)

# End-to-end metrics: set-up on the wall clock, operations in CPU seconds of
# the program's processes. On a shared virtual machine the time the
# hypervisor gives to other guests (steal) makes operation wall times swing
# by 40 % from one minute to the next, while the CPU the engine spends on
# the same work moves by about a tenth. Wall latencies are in the details
# line.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("op_cpu_s", "s", "lower"),
)


def _per_layer() -> tuple[tuple[str, str, str], ...]:
    specs = [
        # Driver memory: the JVM's heap growth differs between runs by a
        # third, too much for a bounded end-to-end metric.
        ("driver.peak_rss_mb", "MB", "lower"),
        ("session.get_spark_s", "s", "lower"),
        ("queries.load_registry_s", "s", "lower"),
        ("catalog.table_calls", "count", "lower"),
        ("catalog.table_s", "s", "lower"),
    ]
    for m in QUERY_MODULES:
        specs += [
            (f"{m}.calls", "count", "lower"),
            (f"{m}.build_s", "s", "lower"),
            (f"{m}.exec_s", "s", "lower"),
        ]
    specs += [
        ("shared.calls", "count", "lower"),
        ("shared.builds", "count", "lower"),
        ("shared.hit_ratio", "ratio", "higher"),
        ("shared.build_s", "s", "lower"),
        ("io.overwrite_day_partition_s", "s", "lower"),
        ("txn.merge_s", "s", "lower"),
        ("txn.delete_s", "s", "lower"),
        ("txn.vacuum_s", "s", "lower"),
        ("txn.read_versioned_s", "s", "lower"),
        ("txn.commits", "count", "lower"),
        ("txn.conflicts", "count", "lower"),
        ("txn.full_rewrite_fallbacks", "count", "lower"),
        ("txn.partitions_rewritten", "count", "lower"),
        ("txn.partitions_linked", "count", "higher"),
        ("txn.files_linked", "count", "higher"),
        ("txn.bytes_staged_mb", "MB", "lower"),
        ("txn.commit_p50_s", "s", "lower"),
        ("txn.ledger_space_amp", "ratio", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.stages", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.shuffle_read_mb", "MB", "lower"),
        ("spark.input_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.core_busy_ratio", "ratio", "higher"),
        ("trace.overhead_ratio", "ratio", "lower"),
    ]
    return tuple(specs)


PER_LAYER = _per_layer()


# Research runs measure at least this many whole permutations. While the JVM
# is still compiling, the CPU of one permutation differs by about a tenth
# between runs, and averaging two narrows that. The count is fixed, not left
# to the clock, because each permutation costs less than the one before.
RESEARCH_MIN_PERMUTATIONS = 2


def stop_point(workload: str, k: int, trace: bool) -> bool:
    """Whether the timed loop may stop after ``k`` operations: research
    stops only after whole permutations of RESEARCH_QUERIES, at least
    RESEARCH_MIN_PERMUTATIONS of them, so every run measures the same mix;
    a traced run takes operations in pairs, one traced and one not."""
    if trace:
        if k % 2:
            return False
        k //= 2
    n = len(RESEARCH_QUERIES)
    return workload != "research" or (k % n == 0 and k >= RESEARCH_MIN_PERMUTATIONS * n)


def research_order(seed: int, n_ops: int) -> list[str]:
    """The first ``n_ops`` research queries: whole seeded permutations of
    RESEARCH_QUERIES, one after another, so every query appears equally
    often in any run that completes its cycles."""
    rng = random.Random(f"research:{seed}")
    out: list[str] = []
    while len(out) < n_ops:
        cycle = list(RESEARCH_QUERIES)
        rng.shuffle(cycle)
        out.extend(cycle)
    return out[:n_ops]


def curation_order(seed: int, pass_index: int) -> list[str]:
    """The seeded query permutation of one curation pass."""
    cycle = list(CURATION_QUERIES)
    random.Random(f"curation:{seed}:{pass_index}").shuffle(cycle)
    return cycle


def night_schedule(seed: int, n_nights: int) -> list[int]:
    """Ascending night numbers (days since the epoch) of the ledger.

    The seed picks the first night and the gaps between nights (weekends and
    holidays skip one or two days); the first LEDGER_NIGHTS nights are the
    history the ledger is seeded with, the rest are the nights the timed run
    processes."""
    rng = random.Random(f"nights:{seed}")
    night = 19000 + rng.randrange(2000)
    out = []
    for _ in range(n_nights):
        out.append(night)
        night += rng.choice((1, 1, 1, 1, 2, 3))
    return out


def schedule(workload: str, seed: int, n_ops: int) -> list:
    """The operation schedule of a run: one entry per operation."""
    if workload == "research":
        return research_order(seed, n_ops)
    if workload == "curation":
        return [curation_order(seed, i) for i in range(n_ops)]
    if workload == "nightly":
        return night_schedule(seed, LEDGER_NIGHTS + n_ops)[LEDGER_NIGHTS:]
    raise ValueError(f"unknown workload {workload!r}")


def ledger_replay(
    nights: list[int], nights_done: int, signal_keys: list[int]
) -> tuple[set[tuple[int, int]], set[tuple[int, int]]]:
    """Expected live ledger after ``nights_done`` timed nights.

    ``nights`` is the night schedule (history first), ``signal_keys`` the
    keys a night's signals carry. Returns ``(all_keys, keys_with_outcome)``
    as sets of ``(night, key)``: the ledger retains the newest LEDGER_NIGHTS
    nights, and a night has outcomes once OUTCOME_LAG later nights exist."""
    last = LEDGER_NIGHTS + nights_done  # one past the newest night's index
    window = nights[max(0, last - LEDGER_NIGHTS) : last]
    resolved = set(nights[: max(0, last - OUTCOME_LAG)])
    keys = {(n, k) for n in window for k in signal_keys}
    with_outcome = {(n, k) for (n, k) in keys if n in resolved}
    return keys, with_outcome
