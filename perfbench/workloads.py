"""The benchmark's workloads, ops, counters and output checks.

One process, one closed-loop client: each op starts after the
previous one (and its check) finished.  Both workloads run the same op
kinds, so every end-to-end metric is defined on both; they differ in the
write op and in the store the reads see:

- ``backfill``: each write op bulk-loads the whole seeded corpus into an
  empty store (``write_raw`` + ``materialize_cascade``).  The first one
  runs in a fresh process, as a backfill job does.  Work sits in the
  rollup kernels, the explode, Gorilla encoding and partition writes;
  there is no per-call merge overhead.
- ``trickle_merge``: setup bulk-loads a smaller base store; each write op
  is one small ``ingest_increment`` batch of new and replaced docs (a
  replacement keeps its ``(source, doc_id)``, so it takes the MERGE's
  matched branch).  Per-call overhead and rewriting whole affected
  partitions dominate; the rollup kernels do little work.

After each write op come dashboard reads (``read_gated`` of one source
and tier, collected: read-after-write); before the first of them, one
untimed read of each tier warms the read path.  After the window the run
compacts every tier once.  Traced runs then also time the layer calls
the ops make internally (Gorilla codec, rollup kernels), one merge batch
on ``backfill``, and one analyst screening job over a fixed source
(``read_raw_decoded`` -> ``series_view`` -> z-score, LocalSD, gap runs,
limited interpolation, each forced), so every per-layer metric exists
on every workload.
"""

from __future__ import annotations

import itertools
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyspark.sql.functions as F

import oracle
from tracing import NO_TRACE, force

from diive_spark.datagen import SOURCES, TOKENS_SCHEMA, series_view, tokens_table
from diive_spark.functions.gorilla import decode_batch, encode_batch
from diive_spark.operators.gaps import gap_runs, interpolate_limited
from diive_spark.operators.outliers import local_sd_flag, zscore_flag
from diive_spark.operators.resample import bucket_rollup, compose_rollup
from diive_spark.operators.tiers import DEFAULT_CASCADE, TierStore


@dataclass(frozen=True)
class Shape:
    """Input sizes of a workload (docs average ~340 tokens)."""
    main_docs: int        # backfill corpus, or trickle base store
    min_writes: int       # write ops per window, at least
    batches: int          # merge batches prepared
    batch_new: int = 5        # new docs per merge batch
    batch_replaced: int = 3   # replaced docs per merge batch


# Merge batches take, from POOL_DOCS candidates each, the docs whose length
# is closest to DOC_TOKENS (about the corpus mean): doc lengths are
# lognormal, so a few random docs would make tokens and rolled points per
# batch swing with the seed.
POOL_DOCS = 16
DOC_TOKENS = 320


WORKLOADS = {
    "backfill": Shape(main_docs=600, min_writes=2, batches=1),
    "trickle_merge": Shape(main_docs=300, min_writes=2, batches=3),
}

SCREEN_SOURCE = "books"   # fixed, so screened volume depends on the seed only
SAMPLE_DOCS = 4           # docs checked per write op, besides the batch's own
SETUP_REPEATS = 3
TIMED_READS = 20          # timed reads per run, at least one of each pair
TIER_EVERY = dict(oracle.TIERS)


@dataclass
class Op:
    kind: str
    wall: float = 0.0
    ok: bool = True
    error: str = ""
    traced: bool = False
    jobs: int = 0
    tasks: int = 0
    bytes_written: int = 0
    info: dict = field(default_factory=dict)


def store_inventory(root: str) -> dict[str, int]:
    """{relative path: size} of the store's data files."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def typical(pool: list[str], docs: dict, k: int) -> list[str]:
    """The *k* docs of *pool* whose length is closest to DOC_TOKENS."""
    return sorted(pool, key=lambda d: abs(len(docs[d][1]) - DOC_TOKENS))[:k]


def read_parquet(root: str, table: str, doc_ids: list[str]) -> pd.DataFrame:
    """Rows of *doc_ids* from a store table, read without Spark."""
    d = ds.dataset(os.path.join(root, table), format="parquet", partitioning="hive")
    return d.to_table(filter=ds.field("doc_id").isin(doc_ids)).to_pandas()


class Bench:
    def __init__(self, spark, work: str, workload: str, seed: int,
                 seconds: float, tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.name = workload
        self.shape = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.ops: list[Op] = []
        self.layer: dict[str, list[float]] = {}
        self.state: dict[str, tuple[str, np.ndarray]] = {}  # doc -> (source, tokens)
        self.n_ops = 0
        self.t0 = time.perf_counter()

    def log(self, what: str) -> None:
        print(f"# t={time.perf_counter() - self.t0:6.1f}s {what}", flush=True)

    # ------------------------------------------------------------ inputs
    def setup(self) -> float:
        """Write the seed's input table with ``datagen.tokens_table``
        SETUP_REPEATS times; returns the median wall.  Doc ids below
        ``main_docs`` are the corpus, the next ones the docs merge
        batches add, the last ones the contents of replaced docs."""
        s = self.shape
        n_docs = s.main_docs + 2 * POOL_DOCS * s.batches
        walls = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            tokens_table(self.spark, n_docs, seed=self.seed) \
                .write.mode("overwrite").parquet(self.path("inputs"))
            walls.append(time.perf_counter() - t0)
        inputs = self.spark.read.parquet(self.path("inputs"))
        self.main = inputs.where(F.col("doc_id") < f"doc{s.main_docs:08d}")
        self._make_batches(inputs.toPandas())
        self.log(f"setup walls {[round(w, 2) for w in walls]}")
        return statistics.median(walls)

    def _make_batches(self, pdf: pd.DataFrame) -> None:
        s = self.shape
        docs = {r.doc_id: (r.source, np.asarray(r.tokens, dtype=np.int32))
                for r in pdf.itertuples()}
        ids = sorted(docs)
        self.corpus = {d: docs[d] for d in ids[:s.main_docs]}
        replaceable = [ids[i] for i in self.rng.permutation(s.main_docs)]
        self.batches = []
        for b in range(s.batches):
            pool = ids[s.main_docs + 2 * POOL_DOCS * b:][:2 * POOL_DOCS]
            rows = [(d, docs[d][1], docs[d][0])
                    for d in typical(pool[:POOL_DOCS], docs, s.batch_new)]
            for c in typical(pool[POOL_DOCS:], docs, s.batch_replaced):
                # a replacement keeps the stored doc's (source, doc_id)
                doc = replaceable.pop()
                rows.append((doc, docs[c][1], docs[doc][0]))
            self.batches.append(pd.DataFrame({
                "doc_id": [r[0] for r in rows],
                "tokens": [r[1] for r in rows],
                "n_tok": np.array([len(r[1]) for r in rows], dtype=np.int32),
                "source": [r[2] for r in rows],
            }))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ------------------------------------------------------ op machinery
    def run_op(self, kind: str, fn, check=None, traced: bool = True) -> Op:
        """Run one op in its own Spark job group, time it, diff the store
        inventory around it, then check its output.  An op that raises or
        fails its check is recorded as failed and the run goes on."""
        tracer = self.tracer if traced else NO_TRACE
        op = Op(kind, traced=tracer.enabled)
        self.n_ops += 1
        group = f"{kind}-{self.n_ops}"
        self.sc.setJobGroup(group, kind)
        before = store_inventory(self.path("store"))
        result = None
        t0 = time.perf_counter()
        try:
            with tracer.span(kind):
                result = fn(tracer)
        except Exception as e:  # one failed op must not end the run
            op.ok, op.error = False, f"{type(e).__name__}: {e}"
        op.wall = time.perf_counter() - t0
        after = store_inventory(self.path("store"))
        op.bytes_written = sum(v for k, v in after.items() if before.get(k) != v)
        op.info["store_files"] = len(after)
        op.info["store_bytes"] = sum(after.values())
        self._count_jobs(group, op)
        self.sc.setJobGroup("check", "output check")
        if op.ok and check is not None:
            try:
                errors = check(result)
            except Exception as e:
                errors = [f"check raised {type(e).__name__}: {e}"]
            if errors:
                op.ok, op.error = False, "; ".join(errors[:5])
        if not op.ok:
            print(f"# op {group} FAILED: {op.error}", flush=True)
        self.log(f"op {group} {op.wall:.2f}s")
        self.ops.append(op)
        return op

    def _count_jobs(self, group: str, op: Op) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            op.jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                op.tasks += stage.numTasks if stage else 0

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    # ------------------------------------------------------------ writes
    def backfill(self, tracer, toks, root: str) -> dict:
        shutil.rmtree(root, ignore_errors=True)
        store = TierStore(self.spark, root)
        with tracer.span("tiers.write_raw"):
            store.write_raw(toks)
        series = tracer.forced("datagen.series_view", lambda: series_view(toks))
        with tracer.span("tiers.materialize_cascade"):
            report = store.materialize_cascade(series, DEFAULT_CASCADE)
        if tracer.enabled:
            for tier, r in report.items():
                self.note(f"tiers.materialize.{tier}_s", r["wall_s"])
        return report

    def merge(self, tracer, batch_df) -> dict:
        store = TierStore(self.spark, self.path("store"))
        with tracer.span("tiers.ingest_increment"):
            report = store.ingest_increment(batch_df, DEFAULT_CASCADE)
        if tracer.enabled:
            for tier, r in report.items():
                self.note(f"tiers.merge.{tier}_s", r["wall_s"])
        return report

    def check_store(self, docs: dict[str, np.ndarray],
                    spark_decode: bool = False) -> list[str]:
        """Tier partials and decoded raw of *docs* against the oracle.
        Reads the store's parquet files with pyarrow, so a check adds no
        Spark job; ``spark_decode`` decodes raw through the engine's
        ``read_raw_decoded`` instead of the codec called directly."""
        root = self.path("store")
        ids = list(docs)
        errors = []
        for tier, every in oracle.TIERS:
            errors += oracle.check_tier(read_parquet(root, tier, ids), docs, tier, every)
        if spark_decode:
            store = TierStore(self.spark, root)
            raw = store.read_raw_decoded().where(F.col("doc_id").isin(ids)).toPandas()
            decoded = list(raw["tokens"])
        else:
            raw = read_parquet(root, "raw", ids)
            decoded = decode_batch(list(raw["payload"]))
        if raw["doc_id"].duplicated().any():
            errors.append("raw: a doc is stored more than once")
        errors += oracle.check_decoded(dict(zip(raw["doc_id"], decoded)), docs)
        return errors

    def sample(self, k: int) -> dict[str, np.ndarray]:
        ids = sorted(self.state)
        pick = self.rng.choice(len(ids), size=min(k, len(ids)), replace=False)
        return {ids[i]: self.state[ids[i]][1] for i in pick}

    # ------------------------------------------------------------- reads
    def read(self, source: str, tier) -> Op:
        docs = {d: t for d, (s, t) in self.state.items() if s == source}
        expect = oracle.gated_summary(docs, tier.every)

        def fn(tracer):
            store = TierStore(self.spark, self.path("store"))
            with tracer.span("tiers.read_gated"):
                return store.read_gated(tier.name, tier.mincounts_perc) \
                    .where(F.col("source") == source).collect()

        def check(rows):
            got = (len(rows), int(sum(r["n"] for r in rows)))
            return [] if got == expect else [
                f"read_gated {source}/{tier.name}: (rows, sum n) {got} != {expect}"]
        return self.run_op("read", fn, check)

    def warm_up_reads(self) -> None:
        """One untimed read of each tier before the first timed read: the
        first reads of a process are the slowest, while plan, codegen and
        JIT caches fill."""
        self.sc.setJobGroup("warmup", "read warm-up")
        store = TierStore(self.spark, self.path("store"))
        for tier in DEFAULT_CASCADE:
            store.read_gated(tier.name, tier.mincounts_perc) \
                .where(F.col("source") == SOURCES[0]).collect()
        self.log("reads warmed up")

    def screen(self) -> Op:
        docs = {d: t for d, (s, t) in self.state.items() if s == SCREEN_SOURCE}
        n_values = sum(len(t) for t in docs.values())
        ids = sorted(docs)
        sample = {ids[i]: docs[ids[i]] for i in
                  self.rng.choice(len(ids), size=min(SAMPLE_DOCS, len(ids)),
                                  replace=False)}

        def pipeline(tracer):
            store = TierStore(self.spark, self.path("store"))
            raw = tracer.forced(
                "tiers.read_raw_decoded",
                lambda: store.read_raw_decoded()
                .where(F.col("source") == SCREEN_SOURCE), cache=True)
            series = tracer.forced("datagen.series_view",
                                   lambda: series_view(raw), cache=True)
            return raw, series

        def fn(tracer):
            raw, series = pipeline(tracer)
            for name, build in (
                ("outliers.zscore_flag", lambda: zscore_flag(series)),
                ("outliers.local_sd_flag", lambda: local_sd_flag(series, winsize=31)),
                ("gaps.gap_runs", lambda: gap_runs(series)),
                ("gaps.interpolate_limited", lambda: interpolate_limited(series, limit=3)),
            ):
                with tracer.span(name):
                    force(build())
            series.unpersist()
            raw.unpersist()
            return n_values

        def check(_):
            raw, series = pipeline(NO_TRACE)
            sel = F.col("doc_id").isin(list(sample))
            z = zscore_flag(series).where(sel).toPandas()
            g = gap_runs(series).where(sel).toPandas()
            i = interpolate_limited(series, limit=3).where(sel).toPandas()
            dec = raw.where(sel).toPandas()
            return (oracle.check_screen(z, g, i, sample)
                    + oracle.check_decoded(dict(zip(dec["doc_id"], dec["tokens"])),
                                           sample))
        op = self.run_op("screen", fn, check)
        op.info["values"] = n_values
        return op

    def compact(self) -> Op:
        def fn(tracer):
            store = TierStore(self.spark, self.path("store"))
            for tier in ("raw", *TIER_EVERY):
                with tracer.span("tiers.compact"):
                    store.compact(tier)
        return self.run_op("compact", fn, lambda _: self.check_store(
            self.sample(SAMPLE_DOCS), spark_decode=True))

    # -------------------------------------------------- traced-only probes
    def probe_layers(self) -> None:
        """Traced runs only: time layer calls the workload's ops make
        internally, on the workload's bulk input, so per-layer kernel
        numbers exist for every workload."""
        t = self.tracer
        arrays = [v[1] for v in self.corpus.values()]
        n_tok = sum(len(a) for a in arrays)
        enc = dec = None
        enc_t, dec_t = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            enc = encode_batch(arrays)
            enc_t.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            dec = decode_batch(enc)
            dec_t.append(time.perf_counter() - t0)
        if not all(np.array_equal(a, b) for a, b in zip(arrays, dec)):
            raise RuntimeError("gorilla decode_batch(encode_batch(x)) != x")
        self.note("gorilla.encode_ns_per_token", statistics.median(enc_t) / n_tok * 1e9)
        self.note("gorilla.decode_ns_per_token", statistics.median(dec_t) / n_tok * 1e9)
        self.note("gorilla.bytes_per_token", sum(len(p) for p in enc) / n_tok)

        first = DEFAULT_CASCADE[0]
        pct = list(first.percentiles)
        with t.span("probe.rollups"):
            series = t.forced("datagen.series_view",
                              lambda: series_view(self.main), cache=True)
            with t.span("resample.bucket_rollup"):
                force(bucket_rollup(series, every=60, mincounts_perc=0.0,
                                    min_floor_rule=False, percentiles=pct))
            with t.span("resample.percentile_rescan"):
                force(bucket_rollup(series, every=3600, mincounts_perc=0.0,
                                    min_floor_rule=False, percentiles=pct))
            tier_1m = TierStore(self.spark, self.path("store")).read("tier_1m")
            with t.span("resample.compose_rollup"):
                force(compose_rollup(tier_1m, every=3600, mincounts_perc=0.0,
                                     min_floor_rule=False))
            series.unpersist()

    # --------------------------------------------------------- workloads
    def merge_op(self, k: int, traced: bool = True, kind: str = "write") -> Op:
        bpdf = self.batches[k]
        batch_df = self.spark.createDataFrame(bpdf, schema=TOKENS_SCHEMA)
        for r in bpdf.itertuples():
            self.state[r.doc_id] = (r.source, r.tokens)
        sample = {r.doc_id: r.tokens for r in bpdf.itertuples()}
        sample.update(self.sample(SAMPLE_DOCS))
        op = self.run_op(kind, lambda tr: self.merge(tr, batch_df),
                         lambda _: self.check_store(sample), traced)
        op.info["tokens"] = int(sum(len(t) for t in bpdf["tokens"]))
        op.info["points"] = sum(oracle.rolled_points(t) for t in bpdf["tokens"])
        op.info["merged"] = True
        return op

    def run(self) -> None:
        """Base store (trickle_merge), the measuring window, the tail."""
        store = self.path("store")
        self.state = dict(self.corpus)
        traced = self.tracer.enabled
        backfill = self.name == "backfill"
        if not backfill:
            with self.tracer.span("setup.base_store"):
                self.backfill(self.tracer, self.main, store)
            self.log("base store built")
        n_tok = sum(len(t) for _, t in self.corpus.values())
        points = sum(oracle.rolled_points(t) for _, t in self.corpus.values())
        # traced runs add one write op: they alternate untraced and traced
        # ones, so the tracing overhead is measured within the run
        min_writes = self.shape.min_writes + traced
        # every run reads each (source, tier) pair once, in a seeded order,
        # then goes round again, spread over the first min_writes write ops;
        # the read mix barely changes with the seed
        plan = [(s, t) for s in SOURCES for t in DEFAULT_CASCADE]
        reads = itertools.cycle([plan[i] for i in self.rng.permutation(len(plan))])
        reads_per_write = math.ceil(TIMED_READS / min_writes)
        t_end = time.perf_counter() + self.seconds
        k = 0
        while k < min_writes or time.perf_counter() < t_end:
            if not backfill and k == len(self.batches):
                break
            traced_op = not traced or k % 2 == 1
            if backfill:
                op = self.run_op(
                    "write", lambda tr: self.backfill(tr, self.main, store),
                    lambda _: self.check_store(self.sample(SAMPLE_DOCS)),
                    traced_op)
                op.info.update(tokens=n_tok, points=points)
            else:
                op = self.merge_op(k, traced_op)
            if k == 0:
                self.warm_up_reads()
            k += 1
            for _ in range(reads_per_write):
                self.read(*next(reads))
        self.window_store = (op.info["store_bytes"],
                             sum(len(t) for _, t in self.state.values()),
                             op.info["store_files"])
        self.log("window done")
        if traced:
            self.probe_layers()
            if backfill:
                # no merges on backfill's path: one batch gives its
                # traced runs the merge-layer numbers
                self.merge_op(0, kind="probe.merge")
            self.log("layer probes done")
        self.compact()
        if traced:
            self.screen()
        self.log("tail done")

    # ----------------------------------------------------------- metrics
    def end_to_end(self, setup_s: float) -> dict[str, tuple[float, str]]:
        ok = [o for o in self.ops if o.ok]
        writes = [o for o in ok if o.kind == "write"]
        if self.tracer.enabled:  # prefer the untraced ones of a traced run
            writes = [o for o in writes if not o.traced] or writes
        reads = [o.wall for o in ok if o.kind == "read"]
        if not writes or not reads:
            raise RuntimeError("no successful op of some kind: metrics undefined")
        wall = sum(o.wall for o in writes)
        store_bytes, live_tokens, _ = self.window_store
        return {
            "setup_s": (setup_s, "s"),
            "raw_tokens_per_s": (sum(o.info["tokens"] for o in writes) / wall, "tokens/s"),
            "rolled_points_per_s": (sum(o.info["points"] for o in writes) / wall, "points/s"),
            "stored_bytes_per_token": (store_bytes / live_tokens, "bytes/token"),
            "write_p50_s": (statistics.median(o.wall for o in writes), "s"),
            "tier_read_p50_s": (statistics.median(reads), "s"),
        }

    def per_layer(self, get_spark_s: float) -> dict[str, tuple[float, str]]:
        t = self.tracer
        med = statistics.median
        out = {"session.get_spark_s": (get_spark_s, "s")}
        for key in ("gorilla.encode_ns_per_token", "gorilla.decode_ns_per_token"):
            out[key] = (med(self.layer[key]), "ns/token")
        out["gorilla.bytes_per_token"] = (med(self.layer["gorilla.bytes_per_token"]),
                                          "bytes/token")
        for span in ("datagen.series_view", "resample.bucket_rollup",
                     "resample.percentile_rescan", "resample.compose_rollup",
                     "tiers.write_raw", "tiers.ingest_increment", "tiers.read_gated",
                     "tiers.read_raw_decoded", "outliers.zscore_flag",
                     "outliers.local_sd_flag", "gaps.gap_runs",
                     "gaps.interpolate_limited"):
            out[f"{span}_s"] = (t.median_self(span), "s")
        out["tiers.compact_s"] = (sum(t.self_times()["tiers.compact"]), "s")
        for tier in TIER_EVERY:
            out[f"tiers.materialize.{tier}_s"] = (
                med(self.layer[f"tiers.materialize.{tier}_s"]), "s")
            out[f"tiers.merge.{tier}_s"] = (med(self.layer[f"tiers.merge.{tier}_s"]), "s")
        merges = [o for o in self.ops if o.ok and o.info.get("merged")]
        out["tiers.merge.spark_jobs"] = (med(o.jobs for o in merges), "count")
        out["tiers.merge.spark_tasks"] = (med(o.tasks for o in merges), "count")
        out["tiers.write_amp"] = (sum(o.bytes_written for o in merges)
                                  / (4 * sum(o.info["tokens"] for o in merges)), "ratio")
        out["tiers.store_files"] = (self.window_store[2], "count")
        screens = [o for o in self.ops if o.ok and o.kind == "screen"]
        out["screen.values_per_s"] = (sum(o.info["values"] for o in screens)
                                      / sum(o.wall for o in screens), "values/s")
        # untraced reference: a write op after the first when there is
        # one, since the first merge of a run still pays warm-up
        writes = [o for o in self.ops if o.ok and o.kind == "write"]
        untraced = ([o.wall for o in writes[1:] if not o.traced]
                    or [o.wall for o in writes if not o.traced])
        out["trace.overhead_s"] = (med(o.wall for o in writes if o.traced)
                                   - med(untraced), "s")
        return out
