"""The benchmark's two workloads and the traffic they are made of.

Each workload generates its inputs from the seed, runs whole *units*
of work (the thing a user waits for) and checks the outputs after the
timed regions:

- ``nsl_train_score``: one unit = ``pipeline.kmeans_rf`` (fit) plus
  collecting its metrics row (score) ``score_reps`` times, each from
  an empty cache; one untimed warm-up unit runs first;
- ``catalog_ingest``: one unit = one pass over the catalog queries
  (:class:`SqlAnalytics`), then restore the standing registry and drop
  and drain ``shards_per_rep`` JSONL shards, one at a time
  (:class:`DocIngest`).

Every workload reports the same end-to-end metric names (see
``README.md`` for what each means per workload) and the union of the
per-layer metrics, with zeros for layers it does not exercise.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen_docs
import gen_nsl
import gen_tables
from spans import SpanStats, Tracer

QUERIES = (
    "q01_pricing_summary", "q03_revenue_by_nation", "q08_topk_per_group",
    "q09_semi_join", "q10_anti_join", "q17_date_agg", "q19_rollup",
    "q34_tumbling_window", "q36_session_window", "q46_shipping_priority",
    "q52_percentiles", "q54_asof_join", "q66_grouping_sets",
)
NSL_SPANS = (
    "pipeline.prepare", "pipeline.build_features", "ml.kmeans_assign",
    "ml.split_clusters", "ml.train_cluster_models", "ml.score_clusters",
)
NSL_SPAN_FIELDS = (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                   ("task_s", "s"), ("shuffle_bytes", "B"))
PLAN_FIELDS = (("wall_s", "s"), ("jobs", "count"), ("shuffle_bytes", "B"))
SESSION_FIELDS = (("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
                  ("gc_s", "s"), ("shuffle_bytes", "B"), ("spill_bytes", "B"),
                  ("idle_core_frac", "frac"))
STREAMING_FIELDS = ("trigger_ms", "add_batch_ms", "query_planning_ms",
                    "wal_commit_ms", "start_stop_ms")

# per-layer metric name -> unit, identical for every workload
PER_LAYER: dict[str, str] = {
    **{f"session.{f}": u for f, u in SESSION_FIELDS},
    "trace.overhead_ms": "ms",
    **{f"{s}.{f}": u for s in NSL_SPANS for f, u in NSL_SPAN_FIELDS},
    **{f"plans.{q}.{f}": u for q in QUERIES for f, u in PLAN_FIELDS},
    **{f"streaming.{f}": "ms" for f in STREAMING_FIELDS},
    "sources.files_written": "count",
    "sources.bytes_written": "B",
    "operators.dup_registry": "count",
    "operators.dup_within": "count",
    "operators.accept_ratio": "frac",
}

# end-to-end metric name -> (unit, better)
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "lower"),
    "cycle_s": ("s", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_p90_ms": ("ms", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}


@dataclass(frozen=True)
class Sizes:
    nsl_train: int
    nsl_test: int
    nsl_k: int
    rf_trees: int
    rf_depth: int
    score_reps: int
    sf: float
    queries: tuple[str, ...]
    base_docs: int
    shard_docs: int
    shards_per_rep: int
    dup_frac: float


FULL = Sizes(
    nsl_train=5_000, nsl_test=22_544, nsl_k=4, rf_trees=10, rf_depth=8,
    score_reps=5, sf=0.1, queries=QUERIES,
    base_docs=1_000, shard_docs=500, shards_per_rep=3, dup_frac=0.3,
)
SMOKE = Sizes(
    nsl_train=1_500, nsl_test=1_500, nsl_k=2, rf_trees=3, rf_depth=3,
    score_reps=1, sf=0.001,
    queries=("q01_pricing_summary", "q09_semi_join", "q36_session_window",
             "q54_asof_join"),
    base_docs=100, shard_docs=100, shards_per_rep=1, dup_frac=0.3,
)


@dataclass
class Ctx:
    spark: object
    work: str          # scratch directory inside the checkout
    seed: int
    sizes: Sizes
    cores: int


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(values, q))


@dataclass
class Workload:
    """Shared bookkeeping: operations attempted, which of them failed,
    and the problems found."""

    ctx: Ctx
    attempted: int = 0
    warm_units = 0     # untimed units run at the end of set-up
    bad_ops: set[int] = field(default_factory=set)
    problems: list[str] = field(default_factory=list)

    def _op(self) -> int:
        self.attempted += 1
        return self.attempted - 1

    def _fail(self, op: int | None, why: str) -> None:
        if op is None:      # a run-wide check: every output is suspect
            self.bad_ops.update(range(self.attempted))
        else:
            self.bad_ops.add(op)
        self.problems.append(why)

    @property
    def failed(self) -> int:
        return len(self.bad_ops)

    def warm_up(self) -> None:
        """Run the workload's ``warm_units`` untimed units (none by
        default), so the JIT is past its steepest drift before timing
        starts. Their outputs are still checked."""

    @property
    def spark(self):
        return self.ctx.spark


# --------------------------------------------------------------------------
# nsl_train_score
# --------------------------------------------------------------------------

@contextlib.contextmanager
def _patched(module, wrappers: dict):
    """Replace module attributes for the duration of the block."""
    originals = {name: getattr(module, name) for name in wrappers}
    for name, wrap in wrappers.items():
        setattr(module, name, functools.wraps(originals[name])(wrap(originals[name])))
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(module, name, fn)


def _in_span(tracer: Tracer, span: str):
    def wrap(fn):
        def call(*a, **kw):
            with tracer.span(span):
                return fn(*a, **kw)
        return call
    return wrap


@dataclass
class FeatureCapture:
    """What ``build_features`` computed inside the measured fit: the
    attribute-ratio rows and selections, and the standardiser."""

    ar_rows: list = field(default_factory=list)
    selected: list[list[str]] = field(default_factory=list)
    scaler: object = None

    def wrappers(self) -> dict:
        def select_features(fn):
            def call(ar_rows, min_ar):
                out = fn(ar_rows, min_ar)
                self.ar_rows = list(ar_rows)
                self.selected.append(list(out))
                return out
            return call

        def fit_standardizer(fn):
            def call(*a, **kw):
                self.scaler = fn(*a, **kw)
                return self.scaler
            return call

        return {"select_features": select_features, "fit_standardizer": fit_standardizer}


class NslTrainScore(Workload):
    name = "nsl_train_score"
    warm_units = 1

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.fit_s: list[float] = []
        self.score_s: list[float] = []
        self.cms: list[tuple[int, tuple]] = []     # (op, (tn, fp, fn, tp))
        self.features: list[tuple[int, FeatureCapture]] = []

    def generate(self, out_dir: str) -> None:
        os.makedirs(out_dir)
        s = self.ctx.sizes
        self.train = os.path.join(out_dir, "train.csv")
        self.test = os.path.join(out_dir, "test.csv")
        self.train_truth, self.test_truth = gen_nsl.write_pair(
            self.train, self.test, s.nsl_train, s.nsl_test, self.ctx.seed)

    def prepare(self) -> None:
        pass

    def warm_up(self) -> None:
        # the score plan warms on its first collect
        self.unit(Tracer(self.spark.sparkContext, enabled=False), score_reps=1)
        self.fit_s.clear()
        self.score_s.clear()

    def unit(self, tracer: Tracer, score_reps: int | None = None) -> float:
        from nsl_kdd_spark import pipeline

        s = self.ctx.sizes
        cfg = pipeline.NslConfig(kmeans_k=s.nsl_k, rf_trees=s.rf_trees,
                                 rf_depth=s.rf_depth)
        op = self._op()
        capture = FeatureCapture()
        self.features.append((op, capture))
        wrappers = capture.wrappers()
        if tracer.enabled:
            wrappers.update({span.split(".", 1)[1]: _in_span(tracer, span)
                             for span in NSL_SPANS})
        start = time.perf_counter()
        try:
            with _patched(pipeline, wrappers):
                t = time.perf_counter()
                out = pipeline.kmeans_rf(self.spark, self.train, self.test, cfg)
                self.fit_s.append(time.perf_counter() - t)
                for _ in range(score_reps or s.score_reps):
                    # uncache, so every collect scores the whole test set
                    self.spark.catalog.clearCache()
                    with tracer.span("ml.score_clusters"):
                        t = time.perf_counter()
                        row = out["metrics"].first()
                        self.score_s.append(time.perf_counter() - t)
                    self.cms.append((op, (row["tn"], row["fp"], row["fn"], row["tp"])))
        except Exception as e:   # an operation that raises counts as failed
            self._fail(op, f"kmeans_rf raised {type(e).__name__}: {e}")
        wall = time.perf_counter() - start
        self.spark.catalog.clearCache()
        return wall

    def check(self) -> None:
        truth = self.test_truth
        first = self.cms[0][1] if self.cms else None
        for op, cm in self.cms:
            tn, fp, fn, tp = cm
            if tn + fp + fn + tp != truth.rows:
                self._fail(op, f"confusion matrix sums to {sum(cm)}, not {truth.rows}")
            if tp + fn != truth.attacks:
                self._fail(op, f"tp+fn = {tp + fn}, generator planted {truth.attacks}")
            if cm != first:
                self._fail(op, f"confusion matrix {cm} differs from {first}")
        want_ar, want_numeric = numpy_attribute_ratio(self.train)
        frame = _read_nsl(self.train)
        for op, cap in self.features:
            if cap.scaler is not None:
                self._check_features(op, cap, want_ar, want_numeric, frame)

    def _check_features(self, op, cap: FeatureCapture, want_ar, want_numeric, frame):
        """The fit's attribute-ratio scores, selected features and
        standardiser mean/std against a numpy recomputation from the CSV."""
        from nsl_kdd_spark.pipeline import NslConfig

        min_ar = NslConfig().min_ar_numeric
        got_ar = {r["feature"]: r["ratio"] for r in cap.ar_rows}
        if set(got_ar) != set(want_ar):
            self._fail(op, f"scored features {sorted(got_ar)} vs {sorted(want_ar)}")
        for c, want in want_ar.items():
            if not np.isclose(got_ar.get(c, np.nan), want, rtol=1e-9, atol=1e-12):
                self._fail(op, f"attribute ratio of {c}: {got_ar.get(c)} vs {want}")
        want_selected = {c for c, r in want_ar.items() if r >= min_ar}
        if any(set(sel) != want_selected for sel in cap.selected):
            self._fail(op, f"selected {cap.selected}, numpy selects {sorted(want_selected)}")
        keep = list(cap.scaler.means)
        want_keep = [c for c in want_numeric if c in want_selected]
        if set(keep) != set(want_keep):
            self._fail(op, f"standardised {sorted(keep)}, numpy keeps {sorted(want_keep)}")
        for c in keep:
            mean, std = frame[c].mean(), frame[c].std(ddof=1)
            if not (np.isclose(cap.scaler.means[c], mean, rtol=1e-9)
                    and np.isclose(cap.scaler.stddevs[c], std, rtol=1e-9)):
                self._fail(op, f"standardiser {c}: ({cap.scaler.means[c]}, "
                               f"{cap.scaler.stddevs[c]}) vs ({mean}, {std})")

    def end_to_end(self) -> dict[str, float]:
        score = statistics.median(self.score_s)
        return {
            "cycle_s": statistics.median(self.fit_s),
            "latency_p50_ms": score * 1000.0,
            "latency_p90_ms": pct(self.score_s, 90) * 1000.0,
            "throughput_per_s": self.test_truth.rows / score,
        }

    def named(self) -> list[tuple[str, float, str, int]]:
        return [
            ("fit_s", statistics.median(self.fit_s), "s", len(self.fit_s)),
            ("score_rows_per_s", self.test_truth.rows / statistics.median(self.score_s),
             "1/s", len(self.score_s)),
        ]

    def layers(self, stats: dict[str, SpanStats]) -> dict[str, float]:
        out = {}
        for span in NSL_SPANS:
            st = stats.get(span, SpanStats())
            for f, _ in NSL_SPAN_FIELDS:
                out[f"{span}.{f}"] = getattr(st, f)
        return out


_BINARY = ("land", "logged_in", "root_shell", "su_attempted",
           "is_host_login", "is_guest_login")
_NOMINAL = ("protocol_type", "service", "flag")


def _read_nsl(path: str) -> pd.DataFrame:
    frame = pd.read_csv(path, header=None, names=list(gen_nsl.COLUMNS))
    frame["su_attempted"] = frame["su_attempted"].replace(2.0, 0.0)
    return frame


def numpy_attribute_ratio(path: str) -> tuple[dict[str, float], list[str]]:
    """The paper's attribute ratio, independent of the engine: numeric
    columns score max over classes of class mean / global mean, binary
    columns max over classes of ones / zeros (1000.0 when there are no
    zeros). Constant numeric columns are dropped first."""
    frame = _read_nsl(path)
    to_class = {n: c for c, names in gen_nsl.TRAIN_NAMES.items() for n in names}
    to_class.update({n: c for c, names in gen_nsl.TEST_ONLY_NAMES.items() for n in names})
    cls = frame["labels"].map(to_class)
    numeric = [c for c in gen_nsl.COLUMNS[:41]
               if c not in _BINARY and c not in _NOMINAL and frame[c].nunique() > 1]
    out = {}
    for c in numeric:
        g = frame[c].mean()
        ratios = frame.groupby(cls)[c].mean() / g if g != 0 else pd.Series([0.0])
        out[c] = float(np.nan_to_num(ratios.max(), nan=0.0))
    for c in _BINARY:
        grouped = frame.groupby(cls)[c]
        ones, n = grouped.sum(), grouped.count()
        zeros = n - ones
        odds = np.where(zeros != 0, ones / zeros.where(zeros != 0, 1), 1000.0)
        out[c] = float(odds.max())
    return out, numeric


# --------------------------------------------------------------------------
# sql_analytics
# --------------------------------------------------------------------------

class SqlAnalytics(Workload):
    name = "sql_analytics"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.pass_s: list[float] = []
        self.query_ms: list[float] = []
        self.results: list[tuple[int, str, list[str], list[tuple]]] = []

    def generate(self, out_dir: str) -> None:
        gen_tables.generate(out_dir, self.ctx.sizes.sf, self.ctx.seed)
        self.data = out_dir

    def prepare(self) -> None:
        pass

    def unit(self, tracer: Tracer) -> float:
        from nsl_kdd_spark.plans.catalog import QUERIES as CATALOG

        start = time.perf_counter()
        for q in self.ctx.sizes.queries:
            op = self._op()
            t = time.perf_counter()
            try:
                with tracer.span(f"plans.{q}"):
                    df = CATALOG[q](self.spark, self.data)
                    rows = df.collect()
                self.query_ms.append((time.perf_counter() - t) * 1000.0)
                self.results.append((op, q, list(df.columns), [tuple(r) for r in rows]))
            except Exception as e:
                self.query_ms.append((time.perf_counter() - t) * 1000.0)
                self._fail(op, f"{q} raised {type(e).__name__}: {e}")
        wall = time.perf_counter() - start
        self.pass_s.append(wall)
        return wall

    def check(self) -> None:
        """Every collected result against the query's DuckDB oracle on
        the same parquet files (the repository's own comparison keys)."""
        import duckdb

        from nsl_kdd_spark.plans.catalog import ORACLE
        from tools.compare import rows_key

        con = duckdb.connect()
        try:
            for t in gen_tables.TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            want = {}
            for q in self.ctx.sizes.queries:
                res = con.sql(ORACLE[q])
                cols = [d[0] for d in res.description]
                idx = [cols.index(c) for c in sorted(cols)]
                want[q] = (sorted(cols),
                           rows_key([tuple(r[i] for i in idx) for r in res.fetchall()]))
        finally:
            con.close()
        for op, q, cols, rows in self.results:
            idx = [cols.index(c) for c in sorted(cols)]
            got = (sorted(cols), rows_key([tuple(r[i] for i in idx) for r in rows]))
            if got != want[q]:
                self._fail(op, f"{q} differs from its DuckDB oracle "
                               f"({len(rows)} vs {len(want[q][1])} rows)")

    def named(self) -> list[tuple[str, float, str, int]]:
        return [
            ("pass_s", statistics.median(self.pass_s), "s", len(self.pass_s)),
            ("query_p50_ms", statistics.median(self.query_ms), "ms", len(self.query_ms)),
            ("query_p90_ms", pct(self.query_ms, 90), "ms", len(self.query_ms)),
        ]

    def layers(self, stats: dict[str, SpanStats]) -> dict[str, float]:
        out = {}
        for q in QUERIES:
            st = stats.get(f"plans.{q}", SpanStats())
            for f, _ in PLAN_FIELDS:
                out[f"plans.{q}.{f}"] = getattr(st, f)
        return out


# --------------------------------------------------------------------------
# doc_ingest
# --------------------------------------------------------------------------

_DOC_SCHEMA = "doc_id LONG, text STRING"
_LIVE = ("src", "ckpt", "corpus", "registry")


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class DocIngest(Workload):
    name = "doc_ingest"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.batch_ms: list[float] = []
        self.docs = 0
        self.progress: list[dict] = []      # per batch of the latest unit
        self.accepted: list[tuple[int, set[int]]] = []   # (first op, corpus ids)
        self.live = os.path.join(ctx.work, "ingest")
        self.snapshot = os.path.join(ctx.work, "ingest-snapshot")

    def generate(self, out_dir: str) -> None:
        s = self.ctx.sizes
        os.makedirs(out_dir)
        stream = gen_docs.DocStream(self.ctx.seed)
        self.base = stream.base_corpus(s.base_docs)
        self.shards = [stream.shard(s.shard_docs, s.dup_frac)
                       for _ in range(s.shards_per_rep)]
        self.staged = []
        for i, shard in enumerate([self.base, *self.shards]):
            path = os.path.join(out_dir, f"shard-{i:05d}.jsonl")
            gen_docs.write_jsonl(shard, path)
            self.staged.append(path)

    def _path(self, name: str) -> str:
        return os.path.join(self.live, name)

    def _drain(self, staged: str):
        """Drop one shard into the source directory and run the ingest
        stream until it has consumed it."""
        from nsl_kdd_spark.streaming.ingest import ingest_documents_stream

        dest = os.path.join(self._path("src"), os.path.basename(staged))
        tmp = os.path.join(self._path("src"), "." + os.path.basename(staged))
        shutil.copyfile(staged, tmp)
        os.replace(tmp, dest)
        query = ingest_documents_stream(
            self.spark, self._path("src"), _DOC_SCHEMA, self._path("corpus"),
            self._path("registry"), self._path("ckpt"))
        query.awaitTermination()
        return query.lastProgress

    def prepare(self) -> None:
        """Seed the standing registry through the ingest stream itself,
        then keep a copy to restore before every unit."""
        for d in _LIVE:
            os.makedirs(self._path(d), exist_ok=True)
        self._drain(self.staged[0])
        shutil.copytree(self.live, self.snapshot)

    def _restore(self) -> None:
        shutil.rmtree(self.live)
        shutil.copytree(self.snapshot, self.live)

    def unit(self, tracer: Tracer) -> float:
        from nsl_kdd_spark.streaming.ingest import read_corpus

        self._restore()
        self.progress = []
        first_op = self.attempted
        wall = 0.0
        for staged, shard in zip(self.staged[1:], self.shards):
            op = self._op()
            before = _dir_files(self.live)
            t = time.perf_counter()
            try:
                with tracer.span("streaming.batch"):
                    progress = self._drain(staged)
            except Exception as e:
                self._fail(op, f"ingest batch raised {type(e).__name__}: {e}")
                progress = None
            dt = time.perf_counter() - t
            wall += dt
            self.batch_ms.append(dt * 1000.0)
            self.docs += len(shard.docs)
            after = _dir_files(self.live)
            written = [p for p in after if p not in before
                       and not p.startswith(self._path("src"))
                       and not p.startswith(self._path("ckpt"))]
            self.progress.append({
                "wall_ms": dt * 1000.0,
                "duration": (progress or {}).get("durationMs", {}),
                "files": len(written),
                "bytes": sum(after[p] for p in written),
            })
        corpus = read_corpus(self.spark, self._path("corpus")).select("doc_id")
        ids = [r[0] for r in corpus.collect()]
        registry = read_corpus(self.spark, self._path("registry")).select("doc_id")
        reg_ids = {r[0] for r in registry.collect()}
        if len(ids) != len(set(ids)):
            self._fail(first_op, "corpus doc ids are not unique")
        if reg_ids != set(ids):
            self._fail(first_op, "registry ids differ from corpus ids")
        self.accepted.append((first_op, set(ids)))
        return wall

    def check(self) -> None:
        base = self.base.novel
        dups = set().union(*(s.planted_dups for s in self.shards))
        novel = set().union(*(s.novel for s in self.shards))
        first = self.accepted[0][1] if self.accepted else set()
        for op, ids in self.accepted:
            if ids != first:
                self._fail(op, f"accepted {len(ids)} docs, not the first unit's {len(first)}")
            if not base <= ids:
                self._fail(op, "standing corpus lost documents")
            recall = len(dups - ids) / len(dups) if dups else 1.0
            false_drop = len(novel - ids) / len(novel) if novel else 0.0
            if recall < 0.8:
                self._fail(op, f"recall of planted duplicates {recall:.3f} < 0.8")
            if false_drop > 0.01:
                self._fail(op, f"false-drop rate of novel docs {false_drop:.3f} > 0.01")

    def named(self) -> list[tuple[str, float, str, int]]:
        return [
            ("batch_p50_ms", statistics.median(self.batch_ms), "ms", len(self.batch_ms)),
            ("docs_per_s", self.docs / (sum(self.batch_ms) / 1000.0), "1/s",
             len(self.batch_ms)),
        ]

    def layers(self, stats: dict[str, SpanStats]) -> dict[str, float]:
        n = max(1, len(self.progress))

        def mean(xs):
            return float(sum(xs)) / n

        def dur(key):
            return [p["duration"].get(key, 0) for p in self.progress]

        ids = self.accepted[-1][1]
        return {
            "streaming.trigger_ms": mean(dur("triggerExecution")),
            "streaming.add_batch_ms": mean(dur("addBatch")),
            "streaming.query_planning_ms": mean(dur("queryPlanning")),
            "streaming.wal_commit_ms": mean(dur("walCommit")),
            "streaming.start_stop_ms": mean(
                [p["wall_ms"] - p["duration"].get("triggerExecution", 0)
                 for p in self.progress]),
            "sources.files_written": mean([p["files"] for p in self.progress]),
            "sources.bytes_written": mean([p["bytes"] for p in self.progress]),
            "operators.dup_registry": mean([len(s.registry_dups - ids) for s in self.shards]),
            "operators.dup_within": mean([len(s.pair_dups - ids) for s in self.shards]),
            "operators.accept_ratio": sum(
                len({d["doc_id"] for d in s.docs} & ids) for s in self.shards
            ) / sum(len(s.docs) for s in self.shards),
        }


# --------------------------------------------------------------------------
# catalog_ingest
# --------------------------------------------------------------------------

class CatalogIngest:
    """The catalog pass of :class:`SqlAnalytics`, then the ingest
    batches of :class:`DocIngest`, as one workload in one process.

    One unit = one catalog pass, then restoring the standing registry
    and draining the shards. The run budget (4 + 22 runs per workload
    within 57 minutes) has no room for a third workload once
    ``nsl_train_score`` runs a warm-up unit, so the catalog and ingest
    traffic share a process: each keeps its own timings, checks and
    layers. ``cycle_s`` is the wall time of a whole unit, the latency
    percentiles are over its operations (queries and batches) and
    ``throughput_per_s`` is the ingest's documents per second.
    """

    name = "catalog_ingest"
    warm_units = 0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sql = SqlAnalytics(ctx)
        self.ingest = DocIngest(ctx)
        self.parts = (self.sql, self.ingest)
        self.unit_s: list[float] = []

    def generate(self, out_dir: str) -> None:
        for part in self.parts:
            part.generate(os.path.join(out_dir, part.name))

    def prepare(self) -> None:
        self.ingest.prepare()

    def warm_up(self) -> None:
        pass

    def unit(self, tracer: Tracer) -> float:
        wall = self.sql.unit(tracer) + self.ingest.unit(tracer)
        self.unit_s.append(wall)
        return wall

    def check(self) -> None:
        for part in self.parts:
            part.check()

    @property
    def attempted(self) -> int:
        return sum(part.attempted for part in self.parts)

    @property
    def failed(self) -> int:
        return sum(part.failed for part in self.parts)

    @property
    def problems(self) -> list[str]:
        return [p for part in self.parts for p in part.problems]

    def end_to_end(self) -> dict[str, float]:
        ops_ms = self.sql.query_ms + self.ingest.batch_ms
        return {
            "cycle_s": statistics.median(self.unit_s),
            "latency_p50_ms": statistics.median(ops_ms),
            "latency_p90_ms": pct(ops_ms, 90),
            "throughput_per_s": self.ingest.docs / (sum(self.ingest.batch_ms) / 1000.0),
        }

    def named(self) -> list[tuple[str, float, str, int]]:
        return [("unit_s", statistics.median(self.unit_s), "s", len(self.unit_s)),
                *self.sql.named(), *self.ingest.named()]

    def layers(self, stats: dict[str, SpanStats]) -> dict[str, float]:
        return {**self.sql.layers(stats), **self.ingest.layers(stats)}


WORKLOADS = {w.name: w for w in (NslTrainScore, CatalogIngest)}
