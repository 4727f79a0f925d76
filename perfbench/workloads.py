"""The benchmark's workloads and their seeded op sequences.

An op is a list: its name, then integer arguments. For the query
workloads the name is a `SparkEntry.queries` key; for `lakehouse` it is
one `DeltaChain` call. Ops come in rounds: one seeded permutation of the
workload's queries, or one lakehouse cycle. The seed fixes the order of
the ops and, for `lakehouse`, the delta predicates; the data never
depends on it.
"""
import random

HEADLINE = ["q1_scan_agg", "q2_join3", "q3_window_topk", "q4_anti_join", "q5_rollup",
            "q6_event_window_json", "q7_sort_limit", "q8_dedup", "q9_cosine_selfjoin"]
SCALEUP = ["q1_scan_agg", "q6_event_window_json", "q7_sort_limit", "q9_cosine_selfjoin"]
QUERY_WORKLOADS = {"headline": HEADLINE, "scaleup": SCALEUP}
WORKLOADS = ["headline", "scaleup", "lakehouse"]

# the text operators, run once each as traced probes of `headline`
TEXT_PROBES = ["lj2_prefix_jaccard", "ls3_tfidf_topk", "lp12_chunk_dedup"]

# untimed rounds before the window. On the query workloads the gate runs
# each query once first, cold, so the window starts at each query's
# fourth run: with fewer, rounds kept getting faster inside the window as
# the JIT compiled. The lakehouse gate reads the chain that the first
# warm-up cycle built.
WARMUP_ROUNDS = {"headline": 2, "scaleup": 1, "lakehouse": 1}

# commits per lakehouse cycle; with a checkpoint every 4 versions the
# cycle's fourth commit (version 5) writes a checkpoint
LAKE_COMMITS = 6

# the standing work counters of the text probes on the generated sf0.1
# data (the repository's own sf0.1 fixtures give 1,860,901 and 8,406,846)
EXPECTED_COUNTERS = {"lj2_candidates": 1920065, "ls3_fanout": 8802393}


def lake_cycle(rng):
    """create, seeded upserts crossing a checkpoint, the two reads in
    seeded order, then a restore. The versions read are fixed so that a
    cycle's cost does not depend on the seed: `readAsOf(4)` replays three
    deltas onto the first checkpoint, `changesRange` spans the whole
    chain, and `restore(2)` undoes all but the first commit."""
    ops = [["create"]]
    for _ in range(LAKE_COMMITS):
        m = rng.randint(10, 20)
        ops.append(["commit", m, rng.randrange(m)])
    reads = [["read_as_of", 4], ["changes_range", 1, 1 + LAKE_COMMITS]]
    rng.shuffle(reads)
    return ops + reads + [["restore", 2]]


def round_size(workload):
    return 4 + LAKE_COMMITS if workload == "lakehouse" else len(QUERY_WORKLOADS[workload])


def ops(workload, seed, rounds=200):
    """The first `rounds` rounds of `workload`'s op sequence for `seed`."""
    rng = random.Random(f"{workload}/{seed}")
    out = []
    for _ in range(rounds):
        if workload == "lakehouse":
            out.extend(lake_cycle(rng))
        else:
            block = list(QUERY_WORKLOADS[workload])
            rng.shuffle(block)
            out.extend([k] for k in block)
    return out
