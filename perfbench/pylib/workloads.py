"""Workload definitions: fixed job lists, seeded shapes and reference results.

Each workload is a fixed list of jobs. The seed permutes the order of the
fixture jobs and chooses every matrix seed and DAG shape; the JVM receives
only the generated plan. Reference results come from the DuckDB oracle
(fixture jobs) or from closed forms and plain loops computed here from the
seed (seeded jobs), never from the program under test.
"""
import random

import numpy as np

# --- fixture jobs -----------------------------------------------------------

# Short dataframe, text, embedding, ML, multimodal, groupby-apply and bag
# entries: the latency-bound small-task regime. The rank-filter entries
# (q14, q43, q71, t16, t45) plan through the TopKPerKey rewrite.
FRAMES = [
    "q01_pricing_summary", "q02_project_filter", "q03_revenue_by_nation",
    "q14_rank_top_orders", "q43_window_ranks", "q71_group_sample",
    "t05_dedup_exact", "t16_vocab_topk", "t45_weighted_sample",
    "e02_lsh_buckets", "e07_mips", "ml08_std_scaler", "ml14_stump",
    "mm01_decode_meta", "g01_groupby_apply", "b01_bag_groupby",
]

# Results that need many Spark jobs or many DAG nodes each: graph
# iterations, blocked LU and inverse, the delayed/futures entries, and the
# micro-batch stream drives and file round-trips (sources, streaming).
ITERATIVE = [
    "i01_iterative_trim", "i02_pagerank", "a32_inverse", "d01_tree_reduce",
    "d02_delayed_dag", "d04_futures_map", "st01_stream_window", "src01_csv_roundtrip",
]

# Span names of an entry job's two halves: the entry function call (which
# may run eager Spark jobs) and the materialization of its returned frame.
_FAMILY_LAYER = [("src", "sources"), ("st", "streaming"), ("ml", "ml"),
                 ("mm", "operators"), ("q", "operators"), ("t", "operators"),
                 ("e", "operators"), ("g", "operators"), ("b", "operators"),
                 ("a", "array"), ("d", "delayed"), ("i", "core")]


def entry_spans(name):
    family = name.split("_")[0].rstrip("0123456789")
    layer = dict(_FAMILY_LAYER)[family]
    if layer == "core":
        return "core.iter_build", "core.iter_exec"
    if layer == "delayed":
        return "delayed.build", "delayed.eval"
    return layer + ".build", layer + ".exec"


def entry_job(name, fixture):
    """A SparkEntry job on `fixture`, a (directory, oracle digests) pair."""
    build, execute = entry_spans(name)
    return {"name": name, "kind": "entry", "build_span": build,
            "exec_span": execute, "params": {"fixture": fixture[0]},
            "expect": fixture[1][name]}


# --- seeded matrices: DMatrix.randInt's cell formula -------------------------

def lcg_block(r0, r1, n, seed, mod):
    """Rows r0..r1 of DMatrix.randInt(m, n, _, seed, mod) as int64."""
    idx = np.arange(r0, r1, dtype=np.int64)[:, None] * n + np.arange(n, dtype=np.int64)
    return ((idx * 1103515245 + seed) % 2147483647) % mod


def _row_chunks(m, step=4096):
    for r0 in range(0, m, step):
        yield r0, min(m, r0 + step)


def gemm_row_sums(n, seed_a, seed_b, mod):
    """Row sums of A·B: rowsum(A·B)_i = Σ_k A_ik · rowsum(B)_k."""
    b = np.concatenate([lcg_block(r0, r1, n, seed_b, mod).sum(axis=1)
                        for r0, r1 in _row_chunks(n)])
    return np.concatenate([lcg_block(r0, r1, n, seed_a, mod) @ b
                           for r0, r1 in _row_chunks(n)])


def gram_sum_trace(m, n, seed, mod):
    """Σ_ij (AᵀA)_ij = Σ_r rowsum_r², and trace(AᵀA) = Σ A²."""
    total = trace = 0
    for r0, r1 in _row_chunks(m):
        a = lcg_block(r0, r1, n, seed, mod)
        total += int((a.sum(axis=1) ** 2).sum())
        trace += int((a * a).sum())
    return total, trace


# --- seeded DAGs: the same kernels Jobs.scala runs, as plain loops -------------

_M64 = (1 << 64) - 1


def leaf_work(x, rounds):
    v = x
    for _ in range(rounds):
        v = ((v * 6364136223846793005 + 1442695040888963407) & _M64) >> 1
    return v % 1000003


def chains_value(chains, depth, steps):
    total = 0
    for c in range(chains):
        v = c
        for i in range(depth):
            v = (v * 31 + steps[c * depth + i]) % 1000000007
        total += v
    return total


def layered_dag(rng, levels, width, fan_in):
    """Random layered DAG: every node past level 0 depends on 1..fan_in
    nodes of the previous level. Returns (deps, sinks)."""
    deps, prev = [], []
    for lvl in range(levels):
        cur = []
        for _ in range(rng.randint(width // 2, width)):
            k = len(deps)
            deps.append(sorted(rng.sample(prev, min(len(prev), rng.randint(1, fan_in))))
                        if lvl else [])
            cur.append(k)
        prev = cur
    used = {d for ds in deps for d in ds}
    return deps, [k for k in range(len(deps)) if k not in used]


def dag_value(deps, consts, sinks):
    val = []
    for k, ds in enumerate(deps):
        val.append((sum(val[d] for d in ds) + consts[k]) % 1000000007)
    return sum(val[k] for k in sinks)


# --- workloads ----------------------------------------------------------------

def _seeded(rng, lo=1, hi=1 << 30):
    return rng.randrange(lo, hi)


def array_jobs(rng):
    """Seeded block-matrix jobs: a 1,500² GEMM and TSQR at the reference's
    published 262,144 × 128 shape."""
    m, n, s = 262144, 128, _seeded(rng)
    total, trace = gram_sum_trace(m, n, s, 1000)
    sa, sb = _seeded(rng), _seeded(rng)
    return [{"name": "gemm_1500", "kind": "gemm",
             "params": {"n": 1500, "bs": 500, "mod": 100, "seed_a": sa, "seed_b": sb},
             "expect": {"row_sums": gemm_row_sums(1500, sa, sb, 100).tolist()}},
            {"name": "tsqr_262144x128", "kind": "tsqr",
             "params": {"m": m, "n": n, "bs": 8192, "mod": 1000, "seed": s},
             "expect": {"gram_sum": total, "gram_trace": trace}}]


def dag_jobs(rng):
    """Seeded delayed DAGs: a 1,024-leaf tree reduction, a wide fan-out /
    fan-in, many parallel chains, and a layered raw Dask graph."""
    jobs = []
    rounds = 64
    leaves = [_seeded(rng) for _ in range(1024)]
    jobs.append({"name": "dag_tree_1024", "kind": "dag_tree",
                 "params": {"leaves": leaves, "rounds": rounds},
                 "expect": {"value": sum(leaf_work(x, rounds) for x in leaves),
                            "nodes": 2 * len(leaves) - 1}})
    root, consts = _seeded(rng), [_seeded(rng) for _ in range(2048)]
    jobs.append({"name": "dag_fanout_2048", "kind": "dag_fanout",
                 "params": {"root": root, "consts": consts, "rounds": rounds},
                 "expect": {"value": sum(leaf_work(root ^ c, rounds) for c in consts),
                            "nodes": len(consts) + 3}})
    chains, depth = 64, 128
    steps = [rng.randrange(0, 1000) for _ in range(chains * depth)]
    jobs.append({"name": "dag_chains_64x128", "kind": "dag_chains",
                 "params": {"chains": chains, "depth": depth, "steps": steps},
                 "expect": {"value": chains_value(chains, depth, steps),
                            "nodes": chains * (depth + 1) + chains - 1}})
    deps, sinks = layered_dag(rng, levels=32, width=64, fan_in=4)
    consts = [_seeded(rng) for _ in deps]
    jobs.append({"name": "dask_graph_32x64", "kind": "dask_graph",
                 "params": {"deps": deps, "consts": consts, "sinks": sinks},
                 "expect": {"value": dag_value(deps, consts, sinks), "nodes": len(deps)}})
    return jobs


WORKLOADS = ["frames_interactive", "iterative_dag"]
# Set-up's warm-up: one small untimed entry that touches the session and
# the fixture tables.
WARMUP = {"frames_interactive": ["q05_distinct_flags"],
          "iterative_dag": ["d03_dag_deep_wide"]}
ORACLE_ENTRIES = sorted(set(FRAMES) | set(ITERATIVE) | {n for ws in WARMUP.values() for n in ws})


# Nominal seconds of one timed pass. A run's pass count is fixed from
# --seconds before it starts, never from how fast passes turn out: later
# passes are warmer, so a count that followed the speed would amplify the
# noise of the first pass into every median. With --seconds 14 both
# workloads run two timed passes (about 5 s and 11 s each on a 4-core host).
NOMINAL_PASS_S = {"frames_interactive": 6.0, "iterative_dag": 7.0}


def pass_count(workload, seconds, traced):
    """Three passes when traced (untraced, traced, untraced); otherwise as
    many nominal passes as fit in `seconds`, at least one and at most three."""
    return 3 if traced else max(1, min(3, int(seconds // NOMINAL_PASS_S[workload])))


def plan(workload, seed, fixtures):
    """Warm-up, priming pass, timed passes and known-defect probes of a run.

    `fixtures` maps "prime" to one fixture and "passes" to one fixture per
    timed pass, each a (directory, oracle digests) pair. The priming pass runs every
    job once, untimed, so code generation and JIT warm-up are paid before
    timing. Each pass, priming included, reads its own fixture and draws
    its own matrix seeds and DAG shapes, so no timed job repeats an input
    its JVM has already seen. The seed fixes the job order, the same in
    every pass, and draws every matrix seed and DAG shape."""
    rng = random.Random(f"{workload}:{seed}")
    names = FRAMES if workload == "frames_interactive" else ITERATIVE
    order = None

    def jobs(fixture):
        nonlocal order
        js = [entry_job(n, fixture) for n in names]
        if workload == "iterative_dag":
            js += dag_jobs(rng) + array_jobs(rng)
        if order is None:
            order = {j["name"]: k for k, j in enumerate(rng.sample(js, len(js)))}
        return sorted(js, key=lambda j: order[j["name"]])

    probes = [] if workload == "frames_interactive" else [
        {"kind": "chain", "depths": [100, 1000, 10000, 100000]},
        {"kind": "cholesky_block_diagonal", "n": 2048, "bs": 256}]
    return {"prime": jobs(fixtures["prime"]),
            "passes": [jobs(f) for f in fixtures["passes"]],
            "warmup": [entry_job(n, fixtures["passes"][0]) for n in WARMUP[workload]],
            "probes": probes}
