"""The workloads and the calls one pass makes into the package.

A pass runs every unit of its workload once, in an order drawn from the
workload seed. A unit is one catalog entry (``fn(spark, sf)`` then a
``noop`` write), the release pair (``pipelines.release_e2e_resumable``
into a fresh stage dir, then again into the same dir to hit the resume
cache) or ``pipelines.publish_tree_docs`` into a fresh dir.
``spark.catalog.clearCache()`` runs after every unit, so no pass reuses a
persist an earlier unit leaked.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import nullcontext

GRAMENE_RELEASE = (
    "pipeline_genes_decorate",
    "pipeline_homologs",
    "w2_genes_between",
    "k7_closure_ancestors",
    "k3k4_deep_tree",
)
MONGO_QUERY = (
    "x_mongo_aggregate",
    "x_mongo_facet",
    "x_mongo_graphlookup",
    "x_mongo_object_reshape",
    "x_mongo_strings_sets",
    "x_mongo_window_calculus",
    "x_mongo_convert",
    "x_mongo_window_range_unit",
    "x_mongo_timeseries_units",
    "x_mongo_update_many",
    "x_mongo_ema",
)

RELEASE = "pipelines.release"  # cold release, then resume, in one unit
PUBLISH_TREE = "pipelines.publish_tree"

WORKLOADS: dict[str, tuple[str, ...]] = {
    "gramene_release": GRAMENE_RELEASE + (RELEASE, PUBLISH_TREE),
    "mongo_query": MONGO_QUERY,
}

ALL_ENTRIES = GRAMENE_RELEASE + MONGO_QUERY

#: rows publish_tree_docs writes at sf0.1
TREE_DOC_ROWS = 25


class Tally:
    """Operations attempted and failed, with the reason for each failure."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


class NoTrace:
    """Stands in for ``spans.Tracer`` in untraced passes."""

    def span(self, *args, **kwargs):
        return nullcontext()


class Passes:
    """Runs passes of one workload against one SparkSession."""

    def __init__(self, spark, sf_dir: str, tmp_root: str, tally: Tally, expected: dict):
        from gramene_mongodb_spark import catalog, pipelines

        self.spark = spark
        self.sf_dir = sf_dir
        self.tmp_root = tmp_root
        self.tally = tally
        self.expected = expected  # entry -> committed value_hash
        self.catalog = catalog
        self.pipelines = pipelines
        self.release_stages = list(pipelines.RELEASE_ORDER[:-1])
        # set by the runner for a traced pass
        self.tracer = NoTrace()
        self.probe = None
        self.after_unit = None

    def run(self, order, parent=None, check: bool = False) -> None:
        """Run every unit once, in ``order``. With ``check`` the entries
        are hashed instead of written, and the pipeline outputs are
        compared with their committed results."""
        for unit in order:
            try:
                if unit == RELEASE:
                    self._release(parent, check)
                elif unit == PUBLISH_TREE:
                    self._publish_tree(parent, check)
                elif check:
                    self._hash_entry(unit)
                else:
                    self._entry(unit, parent)
            except Exception as e:  # noqa: BLE001 - every failure is counted
                self.tally.check(False, f"{unit}: {type(e).__name__}: {str(e)[:300]}")
            finally:
                self.spark.catalog.clearCache()
            if self.after_unit is not None:
                self.after_unit(unit)

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _entry(self, name: str, parent) -> None:
        t = self.tracer
        with t.span(name, "entry", parent) as es:
            with t.span("build", "build", es):
                df = self.catalog.REGISTRY[name].fn(self.spark, self.sf_dir)
            with t.span("exec", "exec", es):
                self._noop(df)
            if es is not None:
                es.counters["cached_plans"] = self.probe.cached_plans()
        self.tally.check(True, name)

    def _hash_entry(self, name: str) -> None:
        from tests.oracle import spark_value_hash

        h = spark_value_hash(self.catalog.REGISTRY[name].fn(self.spark, self.sf_dir))
        self.tally.check(h == self.expected[name], f"{name}: value_hash {h} differs from PARITY_SF01.json")

    def _release(self, parent, check: bool) -> None:
        stage_dir = tempfile.mkdtemp(prefix="release_", dir=self.tmp_root)
        run = self.pipelines.release_e2e_resumable
        try:
            with self.tracer.span(RELEASE, "pipeline", parent) as s:
                df, ran = run(self.spark, self.sf_dir, stage_dir)
                self._noop(df)
            self.tally.check(ran == self.release_stages, f"release ran {ran}, expected every stage")
            self._ran(s, ran)
            with self.tracer.span("pipelines.resume", "pipeline", parent) as s:
                df, ran = run(self.spark, self.sf_dir, stage_dir)
                self._noop(df)
            self.tally.check(ran == [], f"resumed release ran {ran}, expected none")
            self._ran(s, ran)
            if check:
                from tests.oracle import spark_value_hash

                h = spark_value_hash(df)
                want = self.expected["pipeline_release_e2e"]
                self.tally.check(h == want, f"resumed release summary hash {h} != {want}")
        finally:
            shutil.rmtree(stage_dir, ignore_errors=True)

    def _ran(self, span, ran) -> None:
        if span is not None:
            span.counters["stages_run"] = len(ran)
            span.counters["stages_skipped"] = len(self.release_stages) - len(ran)

    def _publish_tree(self, parent, check: bool) -> None:
        out_dir = tempfile.mkdtemp(prefix="tree_", dir=self.tmp_root)
        out = os.path.join(out_dir, "tree")
        try:
            with self.tracer.span(PUBLISH_TREE, "pipeline", parent):
                stats = self.pipelines.publish_tree_docs(self.spark, self.sf_dir, out)
            rows = stats["rows"]
            self.tally.check(rows == TREE_DOC_ROWS, f"publish_tree_docs reported {rows} rows")
            if check:
                lines = written_lines(out)
                self.tally.check(lines == TREE_DOC_ROWS, f"publish_tree_docs wrote {lines} JSON lines")
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)


def written_lines(path: str) -> int:
    """Non-empty lines in the data files of a written directory."""
    n = 0
    for f in os.listdir(path):
        if f.startswith(("_", ".")):
            continue
        with open(os.path.join(path, f), "rb") as fh:
            n += sum(1 for line in fh if line.strip())
    return n
