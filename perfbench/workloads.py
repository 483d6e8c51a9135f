"""The benchmark's workloads: what one op is, and how its output is checked.

Each workload is a closed loop with one client and one op in flight. It
generates its input from the seed, runs ops through the engine's public
functions, and checks outputs outside the timed region:

* ``report_queries``: an op is one report-style ``queries()`` entry written
  to the ``noop`` sink. Each entry's result is checked against its
  ``oracle_sql()`` in DuckDB, with ``scripts/check_oracle.py``'s normalize
  rules and tolerance, during the warm-up round.
* ``feature_pipeline``: an op is one ``run_pipeline(..., num_buckets=8)``
  into fresh output and checkpoint directories. Every op's output is checked
  against a DuckDB checksum computed from the input and the bucket bounds
  that op recorded in its checkpoint manifests.

When a tracer is given, an op's layer calls are recorded as spans.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import time

import duckdb
import pandas as pd

import inputs

# Report entries whose time goes to eager driver actions while the plan is
# built (fleiss_kappa, auc_roc, cohen_kappa, partitioner_splits; auc_roc can
# also leave an RDD persisted) and to skewed suffix ranking (suffix_ranks).
REPORT_QUERIES = (
    "fleiss_kappa",
    "auc_roc",
    "cohen_kappa",
    "partitioner_splits",
    "suffix_ranks",
)
REPORT_SF = 0.01
PIPELINE_ROWS = 30_000
PIPELINE_BUCKETS = 8


def _load_check_oracle(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def catalyst_s(df) -> float:
    """Seconds Catalyst spends analysing, optimizing and planning ``df``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return sum(
        phases.get(p).get().durationMs()
        for p in ("analysis", "optimization", "planning")
        if phases.contains(p)
    ) / 1e3


def record_catalyst(wl) -> None:
    """After a traced op, outside its span: the Catalyst time of the frames
    it executed, keyed by the op's span id."""
    if wl._traced is not None:
        span_id, frames = wl._traced
        wl.catalyst[span_id] = sum(catalyst_s(df) for df in frames)
        wl._traced = None


class ReportQueries:
    name = "report_queries"
    # the first round also checks the results; after it alone, the first
    # timed round still ran slower than the later ones
    warm_up_rounds = 2
    min_timed_rounds = 2

    def __init__(self, spark, root: str, work_dir: str, seed: int):
        import __spark_entry__

        self.spark = spark
        self.seed = seed
        self.fns = {q: __spark_entry__.queries()[q] for q in REPORT_QUERIES}
        self.oracles = __spark_entry__.oracle_sql()
        self.normalize = _load_check_oracle(root).normalize
        self.rows_read: dict[str, int] = {}
        self.catalyst: dict[str, float] = {}
        self._traced = None

    def generate(self, out_dir: str) -> None:
        self.table_rows = inputs.write_tables(out_dir, self.seed, REPORT_SF)

    def use_input(self, in_dir: str) -> None:
        self.in_dir = in_dir
        self.con = duckdb.connect()
        for t in self.table_rows:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')"
            )

    def round(self, rng) -> list[str]:
        order = list(REPORT_QUERIES)
        rng.shuffle(order)
        return order

    def warm_up(self, name: str) -> tuple[float, str | None]:
        """Collect the entry's result once (timed) and check it (untimed).

        Also records which input tables the entry reads, for ``rows_per_s``.
        """
        reader = type(self.spark.read)
        parquet = reader.parquet
        paths: set[str] = set()

        def recording(self_, *p, **kw):
            paths.update(p)
            return parquet(self_, *p, **kw)

        reader.parquet = recording
        try:
            t0 = time.perf_counter()
            got = self.fns[name](self.spark, self.in_dir).toPandas()
            op_s = time.perf_counter() - t0
        finally:
            reader.parquet = parquet
        self.rows_read[name] = sum(
            n for t, n in self.table_rows.items() if f"{self.in_dir}/{t}.parquet" in paths
        )
        return op_s, self._check(name, got)

    def _check(self, name: str, got: pd.DataFrame) -> str | None:
        want = self.con.execute(self.oracles[name]).fetchdf()
        a, b = self.normalize(got), self.normalize(want)
        if list(a.columns) != list(b.columns):
            return f"schema {list(a.columns)} vs {list(b.columns)}"
        if len(a) != len(b):
            return f"rowcount {len(a)} vs {len(b)}"
        try:
            pd.testing.assert_frame_equal(
                a, b, check_dtype=False, check_exact=False, rtol=1e-5, atol=1e-6
            )
        except AssertionError as e:
            return f"values differ: {str(e).splitlines()[0]}"
        return None

    def op(self, name: str, tracer=None, op_span=None) -> float:
        fn = self.fns[name]
        if tracer is None:
            t0 = time.perf_counter()
            fn(self.spark, self.in_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("build", name, parent=op_span):
            df = fn(self.spark, self.in_dir)
        with tracer.span("exec", name, parent=op_span):
            df.write.format("noop").mode("overwrite").save()
        self._traced = (op_span["id"], [df])
        return time.perf_counter() - t0

    def install_wrappers(self, tracer) -> list[tuple]:
        return []

    def after_op(self, name: str) -> str | None:
        record_catalyst(self)
        return None

    def rows(self, name: str) -> int:
        return self.rows_read[name]

    def close(self) -> None:
        self.con.close()


CHECKSUM_COLS = "count(*), sum(target), sum({lag1}), sum({lag2}), {train}, sum(list_sum(tokens))"

EXPECTED_SQL = """
WITH b(bucket, lo, hi) AS (VALUES {bounds}),
src AS (
  SELECT doc_id, event_time, n_tok, tokens, epoch_us(event_time) AS t
  FROM read_parquet('{input}/*.parquet')
),
w AS (
  SELECT b.bucket, s.t, s.tokens,
    lead(s.n_tok) OVER win AS target,
    lag(s.n_tok, 1) OVER win AS lag1,
    lag(s.n_tok, 2) OVER win AS lag2,
    min(s.t) OVER (PARTITION BY b.bucket, s.doc_id) AS tmin,
    max(s.t) OVER (PARTITION BY b.bucket, s.doc_id) AS tmax
  FROM src s JOIN b ON (b.lo IS NULL OR s.t >= b.lo) AND (b.hi IS NULL OR s.t < b.hi)
  WINDOW win AS (PARTITION BY b.bucket, s.doc_id ORDER BY s.event_time)
)
SELECT bucket, {cols} FROM w WHERE target IS NOT NULL GROUP BY bucket ORDER BY bucket
"""

ACTUAL_SQL = """
SELECT bucket, {cols}
FROM read_parquet('{output}/bucket=*/*.parquet', hive_partitioning = true)
GROUP BY bucket ORDER BY bucket
"""


def _bound(s: str) -> str:
    return "NULL::DOUBLE" if s == "None" else f"{float(s)!r}::DOUBLE"


class FeaturePipeline:
    name = "feature_pipeline"
    # ops speed up as the JIT compiles the planner: from 13 s to 4.8 s over
    # the first five, then steady at ~4.2 s (4 cores)
    warm_up_rounds = 5
    min_timed_rounds = 3

    def __init__(self, spark, root: str, work_dir: str, seed: int):
        from temporalscope_spark.pipelines import feature_pass

        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.feature_pass = feature_pass
        self.con = duckdb.connect()
        self.n_ops = 0
        self.catalyst: dict[str, float] = {}
        self._op_span = None
        self._built: list = []
        self._traced = None

    def generate(self, out_dir: str) -> None:
        from temporalscope_spark.datasets.synthetic import generate_tokenized_sequences

        generate_tokenized_sequences(
            self.spark,
            num_rows=PIPELINE_ROWS,
            num_docs=PIPELINE_ROWS // 100,
            random_seed=self.seed,
        ).write.parquet(out_dir)

    def use_input(self, in_dir: str) -> None:
        self.in_dir = in_dir

    def round(self, rng) -> list[str]:
        return ["run_pipeline"]

    def warm_up(self, name: str) -> tuple[float, str | None]:
        op_s = self.op(name)
        return op_s, self.after_op(name)

    def op(self, name: str, tracer=None, op_span=None) -> float:
        """One pipeline pass into fresh output and checkpoint directories."""
        self.n_ops += 1
        self.out_dir = os.path.join(self.work_dir, f"out-{self.n_ops}")
        self.ck_dir = os.path.join(self.work_dir, f"ck-{self.n_ops}")
        self._op_span = op_span
        t0 = time.perf_counter()
        try:
            self.stats = self.feature_pass.run_pipeline(
                self.spark, self.in_dir, self.out_dir, self.ck_dir, num_buckets=PIPELINE_BUCKETS
            )
        finally:
            self._op_span = None
        op_s = time.perf_counter() - t0
        if op_span is not None:
            self._traced = (op_span["id"], self._built[:])
            self._built.clear()
        return op_s

    def install_wrappers(self, tracer) -> list[tuple]:
        """Record a layer span around each public callable the pass uses.

        Returns the restore tuples."""
        from temporalscope_spark.checkpoint import CheckpointStore

        op_of = lambda: self._op_span  # noqa: E731
        fp = self.feature_pass
        return [
            tracer.wrap(owner, attr, kind, op_of, on_result)
            for owner, attr, kind, on_result in (
                (fp, "time_buckets", "pipelines.feature_pass.time_buckets", None),
                (fp, "build_features", "pipelines.feature_pass.build_features", self._built.append),
                (type(self.spark.range(1).write), "parquet", "bucket_write", None),
                (type(self.spark.range(1)), "count", "read_back_count", None),
                (CheckpointStore, "record_bucket", "checkpoint.CheckpointStore.record_bucket", None),
            )
        ]

    def after_op(self, name: str) -> str | None:
        """Check the op's output, then delete it; returns a mismatch or None."""
        record_catalyst(self)
        try:
            if self.stats.get("processed") != PIPELINE_BUCKETS:
                return f"processed {self.stats} of {PIPELINE_BUCKETS} buckets"
            return self._check()
        finally:
            shutil.rmtree(self.out_dir, ignore_errors=True)
            shutil.rmtree(self.ck_dir, ignore_errors=True)

    def _check(self) -> str | None:
        manifests = []
        for f in sorted(os.listdir(self.ck_dir)):
            if f.startswith("bucket_") and f.endswith(".json"):
                with open(os.path.join(self.ck_dir, f)) as fh:
                    manifests.append(json.load(fh))
        bounds = ", ".join(
            f"({m['bucket']}, {_bound(m['bounds'][0])}, {_bound(m['bounds'][1])})" for m in manifests
        )
        want = self.con.execute(
            EXPECTED_SQL.format(
                bounds=bounds,
                input=self.in_dir,
                cols=CHECKSUM_COLS.format(
                    lag1="lag1", lag2="lag2",
                    train="count(*) FILTER (WHERE (t - tmin) <= (tmax - tmin) * 0.7::DOUBLE)",
                ),
            )
        ).fetchall()
        got = self.con.execute(
            ACTUAL_SQL.format(
                output=self.out_dir,
                cols=CHECKSUM_COLS.format(
                    lag1="n_tok_lag_1", lag2="n_tok_lag_2",
                    train="count(*) FILTER (WHERE split = 'train')",
                ),
            )
        ).fetchall()
        if got != want:
            return f"checksum {got} vs {want}"
        counts = [(m["bucket"], m["row_count"]) for m in manifests]
        if counts != [(r[0], r[1]) for r in got]:
            return f"manifest row counts {counts} vs output {[(r[0], r[1]) for r in got]}"
        return None

    def rows(self, name: str) -> int:
        return PIPELINE_ROWS

    def close(self) -> None:
        self.con.close()


WORKLOADS = {w.name: w for w in (ReportQueries, FeaturePipeline)}
