"""Benchmark runner. The LAST stdout line is ONE compact JSON object:
{"metric": ..., "value": N, "unit": ..., "queries": {...}, "sf": ...}

The compact line stays small BY CONSTRUCTION: the driver that records
it tail-captures a bounded window, and in round 4 the full per-repeat
iteration traces pushed the single line past that window, truncating
the front (metric/value) out of the committed artifact
(BENCH_r04.json "parsed": null). The bulky self-diagnosing detail
(every PageRank repeat's full iteration trace, every query's repeat
list) now goes to a separate file — $BENCH_DETAIL_OUT, default
BENCH/detail_latest.json next to this script — and the compact line
keeps only the scalars (steady/floor iteration, pages/s, totals).

Headline metric: edges/sec per PageRank iteration on a deterministic
synthetic graph (default 10M edges — BASELINE.md protocol), plus
wall-clock seconds for representative queries at $SPARK_GRAFT_SF_DIR.

Env knobs:
  SPARK_GRAFT_SF_DIR   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     (default: the CPUs this process may run on)
  BENCH_EDGES          (default 10_000_000)
  BENCH_PR_ITERS       (default 5)
  BENCH_DETAIL_OUT     (default <repo>/BENCH/detail_latest.json)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


from rad_ecg_spark.operators.graph_core import LoopStats
from rad_ecg_spark.operators.pagerank import pagerank
from rad_ecg_spark.session import get_spark
from rad_ecg_spark.sources.pages import generate_pages
from rad_ecg_spark.sources.synth_graph import synth_edges

# representative, bench-safe subset of the query registry (the full set
# incl. O(pairs) dedup queries runs in the sf0.01 correctness gate)
BENCH_QUERY_NAMES = [
    "pricing_summary",
    "interval_stats",
    "sessionize",
    "asof_purchase_click",
    "topk_per_group",
    "moment_stats",
    "rolling_median",
    "time_windows",
    "episodes_udtf",
    "stat_bundle",
    "doc_stats",
    "token_counts",
    "matrix_profile_discord",
    "halo_rolling_median",
    "halo_mp_discord",
    "ivf_fixed_topk",
    "image_luma_profile",
    "video_frame_luma",
    "embedding_neardup",
    "simhash_pairs",
    "cosine_topk",
    "lsh_ann_topk",
    "graph_pagerank_5iter",
    "graph_triangle_count",
    "graph_connected_components",
]


def _load1() -> float | None:
    """1-min load average — stamps the artifact with the session's
    concurrent-load picture so a burst window is separable from an
    engine regression without forensics (this host is co-tenant;
    see BENCH/BASELINE.md memory-bandwidth appendix)."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    n_edges = int(os.environ.get("BENCH_EDGES", "10000000"))
    pr_iters = int(os.environ.get("BENCH_PR_ITERS", "5"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0
    load1_start = _load1()  # BEFORE our own JVM adds its threads

    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    from rad_ecg_spark.queries import ALL_QUERIES

    timings: dict[str, float] = {}

    # --- headline: PageRank throughput on the synthetic bench graph ----
    # Best-of-N (default 3 full runs): co-tenant contention on this
    # shared host only ever SLOWS a run (measured 2-30x bursts, see
    # BENCH/BASELINE.md memory-bandwidth appendix), so a single-run
    # headline can masquerade as an engine regression (the BENCH_r03
    # case: 14.2s/7.6s burst iterations against a 2.7s steady state).
    # Per run: steady iteration = median of the last half of iterations
    # (skips JIT/cache warmup, independent of iteration count, excludes
    # one-time setup). Headline = edges / best steady iteration across
    # runs; every run's full iteration trace is kept in detail so a
    # contention window is visible in the artifact itself.
    pr_repeats = int(os.environ.get("BENCH_PR_REPEATS", "3"))
    edges = synth_edges(spark, n_edges)
    e_count = edges.count()  # materialize the input before timing
    pr_runs: list[dict] = []
    for _ in range(pr_repeats):
        t0 = time.monotonic()
        stats = LoopStats()
        pagerank(edges, tol=0.0, max_iter=pr_iters, stats=stats).count()
        pr_wall = time.monotonic() - t0
        half = sorted(stats.iter_wall_s[len(stats.iter_wall_s) // 2 :])
        pr_runs.append(
            {
                "wall_s": round(pr_wall, 3),
                "setup_s": round(stats.setup_wall_s, 3),
                "iter_wall_s": stats.iter_wall_s,
                "steady_iter_s": half[len(half) // 2],
            }
        )
    n_graph_edges = stats.num_edges
    steady_iter_s = min(r["steady_iter_s"] for r in pr_runs)
    floor_iter_s = min(min(r["iter_wall_s"]) for r in pr_runs)
    edges_per_sec_iter = n_graph_edges / steady_iter_s
    timings["pagerank_synth"] = round(min(r["wall_s"] for r in pr_runs), 3)

    # --- extraction throughput: pages -> edges via Arrow UDF -----------
    from rad_ecg_spark.functions.extract import pages_to_edges

    n_pages = 100_000
    pages = generate_pages(spark, n_pages // 50, 50).persist()
    pages.count()  # materialize: time ONLY the extraction UDF pass
    t0 = time.monotonic()
    n_extracted = pages_to_edges(pages, dedupe=False).count()
    ext_wall = time.monotonic() - t0
    timings["extract_100k_pages"] = round(ext_wall, 3)
    pages.unpersist()

    # --- query suite at sf_dir -----------------------------------------
    # best-of-N per query: co-tenant noise on this host only ever SLOWS
    # a run (2-5x bursts, see BENCH/BASELINE.md), so a single-run timing
    # can masquerade as a regression (the r02 connected-components
    # case). The min across repeats is the engine's number.
    q_repeats = int(os.environ.get("BENCH_QUERY_REPEATS", "3"))
    query_runs: dict[str, list[float]] = {}
    for name in BENCH_QUERY_NAMES:
        fn = ALL_QUERIES[name]
        runs = []
        for _ in range(q_repeats):
            t0 = time.monotonic()
            fn(spark, sf_dir).count()
            runs.append(round(time.monotonic() - t0, 3))
        query_runs[name] = runs  # all repeats -> detail (self-diagnosing)
        timings[name] = round(min(runs), 3)

    total = sum(timings.values())
    # scalar detail -> compact line; bulky traces -> detail file
    detail_scalars = {
        "bench_edges": e_count,
        "pagerank_iterations": pr_iters,
        "pagerank_repeats": pr_repeats,
        "steady_iter_s": round(steady_iter_s, 3),
        "floor_iter_s": round(floor_iter_s, 3),
        "edges_per_sec_at_floor_iter": round(n_graph_edges / floor_iter_s),
        "pages_extracted": n_pages,
        "edges_extracted": n_extracted,
        "pages_per_sec": round(n_pages / ext_wall),
        "total_query_wall_s": round(total, 3),
        "cpus": cpus,
        "load1_start": load1_start,
        "load1_end": _load1(),
    }
    detail_out = os.environ.get(
        "BENCH_DETAIL_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH", "detail_latest.json"
        ),
    )
    os.makedirs(os.path.dirname(detail_out), exist_ok=True)
    with open(detail_out, "w") as f:
        json.dump(
            {
                **detail_scalars,
                "pagerank_repeat_traces": pr_runs,
                "query_runs_s": query_runs,
            },
            f,
            indent=2,
            sort_keys=True,
        )
        f.write("\n")
    # the compact headline MUST be the final stdout line (driver contract)
    print(
        json.dumps(
            {
                "metric": "edges_per_sec_per_pagerank_iteration",
                "value": round(edges_per_sec_iter),
                "unit": "edges/sec/iteration",
                "queries": timings,
                "sf": sf,
                "detail": {**detail_scalars, "detail_file": detail_out},
            }
        )
    )


if __name__ == "__main__":
    main()
