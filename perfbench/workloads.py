"""The benchmark's workloads. Each one has

- ``make_input(spark)``: one input generation + materialisation (run
  several times in setup; the last copy is the one measured);
- ``prepare(spark)``: reference answers for the checks, computed once
  per process, outside every timed pass;
- ``run_pass(spark, ops)``: one pass of timed public calls, each made
  through ``ops.call`` so it is spanned, counted and checked. Returns
  the pass's per-layer values beyond the calls' walls;
- ``after_pass(spark, pass_id)``: per-layer values of a pass that are
  measured after the passes, outside their timed spans and memory
  sampling, and that pass's clean-up.

Sizes come in two profiles: ``full`` (what the benchmark measures) and
``tiny`` (the benchmark's own tests).
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback

import pandas as pd
from pyspark.sql import functions as F

import checks
from tables import TABLES, write_tables

MASS_TOL = 1e-9


class Ops:
    """Timed public calls of one pass: attempted/failed bookkeeping.

    A call fails if it raises or if its check returns an error string
    (or raises); either way the pass goes on."""

    def __init__(self, tracer, pass_id: int):
        self.tracer = tracer
        self.pass_id = pass_id
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.walls: dict[str, float] = {}

    def _fail(self, name: str, msg: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {msg}"[:500])

    def call(self, name: str, fn, check=None):
        self.attempted += 1
        try:
            with self.tracer.span(name, self.pass_id) as sp:
                result = fn()
        except Exception as e:  # noqa: BLE001 - a failed call is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self._fail(name, f"raised {type(e).__name__}: {e}")
            return None
        self.walls[name] = sp["wall_s"]
        if check is not None:
            try:
                err = check(result)
            except Exception as e:  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
                err = f"check raised {type(e).__name__}: {e}"
            if err:
                self._fail(name, err)
        return result


class WebPipeline:
    """The composed pages -> dedup -> graph -> four algorithms pipeline."""

    name = "web_pipeline"
    SIZES = {
        "full": {"sites": 10, "pages_per_site": 20, "max_iter": 2},
        "tiny": {"sites": 3, "pages_per_site": 6, "max_iter": 2},
    }
    # the pipeline test's threshold; routes ~47% of the full corpus's
    # sources through PageRank's hub path (measured by after_pass())
    HUB_THRESHOLD = 3

    def __init__(self, seed: int, work_dir: str, size: str = "full"):
        self.work_dir = work_dir
        s = self.SIZES[size]
        self.sites, self.per_site, self.max_iter = s["sites"], s["pages_per_site"], s["max_iter"]
        self.pages_dir = os.path.join(work_dir, "pages")
        self.pass_dirs: list[tuple[str, str]] = []

    def make_input(self, spark) -> dict:
        from rad_ecg_spark.sources.pages import generate_pages

        shutil.rmtree(self.pages_dir, ignore_errors=True)
        generate_pages(spark, self.sites, self.per_site).write.parquet(self.pages_dir)
        return {"pages": spark.read.parquet(self.pages_dir).count()}

    def prepare(self, spark) -> dict:
        """Reference answers from the test suite's plain-Python oracles
        over ``expected_edges``, the engine's own edge list of the
        generated corpus (it has no duplicate pages to drop)."""
        from rad_ecg_spark.sources.pages import expected_edges
        from tests.oracles import components_oracle, label_prop_oracle, triangles_oracle

        edges = sorted({(s, d) for s, d in expected_edges(self.sites, self.per_site) if s != d})
        components = components_oracle(edges)
        labels = label_prop_oracle(edges, max_iter=self.max_iter)
        self.ref_edges = len(edges)
        self.n_vertices = len(components)
        self.ref_triangles = triangles_oracle(edges)[0]
        self.ref_components = len(set(components.values()))
        # from pandas, so Arrow ships the rows and no Python worker starts
        self.ref_digests = checks.digests({
            "components": spark.createDataFrame(
                pd.DataFrame(list(components.items()), columns=["id", "component"])
            ),
            "labels": spark.createDataFrame(
                pd.DataFrame(list(labels.items()), columns=["id", "label"])
            ),
        })
        return {
            "edges": self.ref_edges, "vertices": self.n_vertices,
            "triangles": self.ref_triangles, "components": self.ref_components,
            "digests": {k: list(v) for k, v in self.ref_digests.items()},
        }

    def run_pass(self, spark, ops: Ops) -> dict:
        from rad_ecg_spark.plans.pipeline import run_pipeline

        n = len(self.pass_dirs)
        out_dir = os.path.join(self.work_dir, f"out-{n}")
        ck_dir = os.path.join(self.work_dir, f"ck-{n}")
        self.pass_dirs.append((out_dir, ck_dir))
        pages = spark.read.parquet(self.pages_dir)

        def check(summary):
            errs = []
            if summary.get("extract_violations") != 0:
                errs.append(f"extract_violations={summary.get('extract_violations')}")
            if summary["edges"] != self.ref_edges:
                errs.append(f"{summary['edges']} edges, reference {self.ref_edges}")
            if summary["triangles"] != self.ref_triangles:
                errs.append(f"{summary['triangles']} triangles, reference {self.ref_triangles}")
            if summary["components"] != self.ref_components:
                errs.append(f"{summary['components']} components, reference {self.ref_components}")
            ranks = checks.digest(
                spark.read.parquet(os.path.join(out_dir, "pagerank")), mass=F.sum("rank")
            )
            if ranks["rows"] != self.n_vertices or abs(ranks["mass"] - 1.0) > MASS_TOL:
                errs.append(f"{ranks['rows']} ranks with mass {ranks['mass']!r}")
            for part, want in self.ref_digests.items():
                got = checks.key(checks.digest(spark.read.parquet(os.path.join(out_dir, part))))
                if got != want:
                    errs.append(f"{part} digest {got} != reference {want}")
            return "; ".join(errs) or None

        summary = ops.call(
            "pipeline",
            lambda: run_pipeline(
                spark, pages, out_dir,
                checkpoint_dir=ck_dir, tol=1e-6, tol_mode="rel",
                max_iter=self.max_iter, verify_extract=True,
                hub_degree_threshold=self.HUB_THRESHOLD,
            ),
            check,
        )
        out: dict[str, float] = {}
        if summary is not None:
            walls = summary["stage_wall_s"]
            for stage, wall in walls.items():
                if stage != "total":
                    out[f"pipeline.{stage}_s"] = wall
            out["pipeline.pagerank_iterations"] = summary["pagerank"]["iterations"]
            out["pipeline.labelprop_iterations"] = summary["labelprop"]["iterations"]
            out["pipeline.kept_frac"] = summary["kept_after_dedup"] / summary["pages"]
        out["checkpoint.bytes_mb"] = _dir_mb(ck_dir)
        out["pipeline.output_mb"] = _dir_mb(out_dir)
        return out

    def after_pass(self, spark, pass_id: int) -> dict:
        """The share of sources that PageRank's hub split puts on the
        hub side, from the engine's ``split_hub_edges`` over the graph
        the pass built (its written rep_map); then remove the pass's
        output and checkpoint dirs."""
        from rad_ecg_spark.operators.skew import split_hub_edges
        from rad_ecg_spark.plans.pipeline import build_graph

        out = {}
        out_dir, ck_dir = self.pass_dirs[pass_id]
        rep_map = os.path.join(out_dir, "rep_map")
        if os.path.isdir(rep_map):
            edges = build_graph(spark.read.parquet(self.pages_dir), spark.read.parquet(rep_map))
            _residual, _hub_edges, hub_ids = split_hub_edges(edges, self.HUB_THRESHOLD)
            out["skew.hub_src_frac"] = hub_ids.count() / edges.select("src").distinct().count()
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ck_dir, ignore_errors=True)
        return out


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


# 11 of bench.py's 25 BENCH_QUERY_NAMES, in its order: the eight below
# plus aggregation, window and as-of join under AQE (all 25 do not fit
# the run budget; see README.md)
QUERY_NAMES = [
    "pricing_summary", "sessionize", "asof_purchase_click", "episodes_udtf",
    "stat_bundle", "matrix_profile_discord", "halo_rolling_median",
    "halo_mp_discord", "embedding_neardup", "simhash_pairs",
    "graph_triangle_count",
]
# the queries ROADMAP directions 4-5 and the carried items name: these
# also get jobs/stages/shuffle/spill in the traced run
NAMED_QUERIES = [
    "stat_bundle", "graph_triangle_count", "embedding_neardup", "simhash_pairs",
    "matrix_profile_discord", "halo_rolling_median", "halo_mp_discord", "episodes_udtf",
]


class QuerySuite:
    """Registry queries over seeded sf tables, each output checked
    against its DuckDB twin."""

    name = "query_suite"
    SIZES = {"full": {"sf": 0.01}, "tiny": {"sf": 0.001}}

    def __init__(self, seed: int, work_dir: str, size: str = "full", names=None):
        self.seed = seed
        self.sf = self.SIZES[size]["sf"]
        self.sf_dir = os.path.join(work_dir, "tables")
        self.names = list(names or QUERY_NAMES)

    def make_input(self, spark) -> dict:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        return write_tables(self.sf_dir, self.seed, self.sf)

    def prepare(self, spark) -> dict:
        import duckdb

        from rad_ecg_spark.queries import ALL_ORACLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
            self.expected = checks.digests({
                n: spark.createDataFrame(con.execute(ALL_ORACLES[n]).arrow())
                for n in self.names
            })
        finally:
            con.close()
        return {"oracle_digests": {n: list(d) for n, d in self.expected.items()}}

    def run_pass(self, spark, ops: Ops) -> dict:
        from rad_ecg_spark.queries import ALL_QUERIES

        for n in self.names:
            fn = ALL_QUERIES[n]
            want = self.expected[n]
            ops.call(
                f"queries.{n}",
                lambda fn=fn: checks.key(checks.digest(fn(spark, self.sf_dir))),
                lambda got, want=want: None if got == want
                else f"digest {got} != oracle {want}",
            )
        return {}

    def after_pass(self, spark, pass_id: int) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (WebPipeline, QuerySuite)}
