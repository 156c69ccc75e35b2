"""The benchmark workloads. Each takes a ``Ctx`` and returns
``(ops, result)``: ``ops`` is one dict per operation with its wall
seconds (None for an untimed warm-up) and whether its output check
passed; ``result`` carries
the workload's throughput figures and per-layer numbers.

Load is closed-loop: this one driver process runs rounds (or curate
passes) back to back on ``local[nproc / 2]`` with no client threads. A
workload calls ``ctx.begin_timed()`` just before its first timed
operation; set-up time ends there.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import inputs
import checks


@dataclass
class Ctx:
    spark: object
    root: str                # checkout root (holds the engine package)
    bench_dir: str           # perfbench/ — caches, traces
    work: str                # per-run scratch dir, deleted at exit
    inputs_dir: str          # generated inputs for (workload, size, seed)
    seed: int
    size: str                # "full" or "tiny" (self-tests)
    tracer: object | None    # Tracer in --trace 1 runs, else None
    procs: object            # spans.ProcTree: RSS peak, CPU time
    corrupt: bool = False    # self-test: damage one output before its check
    t_first_op: float | None = None   # perf_counter at the first timed op
    notes: dict = field(default_factory=dict)

    def begin_timed(self) -> None:
        if self.t_first_op is None:
            self.t_first_op = time.perf_counter()


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _dir_files(d: str) -> dict[str, int]:
    out = {}
    for dp, _dn, fns in os.walk(d):
        for fn in fns:
            p = os.path.join(dp, fn)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


# --------------------------------------------------------------------
# crawl_small_rounds
# --------------------------------------------------------------------

# Rounds per run. Round 1 runs in set-up: a fresh JVM is still
# compiling the round's code paths then (on a 4-core host it took
# 1.4-2x the CPU of round 3), and a crawl of many rounds pays that
# once. Rounds 2 and 3 are timed. Every round's output is checked;
# from round 2 on the order depends on the previous round's fetch,
# link expansion, URL canonicalization and seen probe, so the checks
# cover every crawl layer. The fixture's rounds schedule ~100-130 URLs.
WARMUP_ROUNDS = 1
TIMED_ROUNDS = 2


def crawl_config():
    from hyperion_crawler_spark.config import CrawlConfig

    # the test-suite geometry; the exact shadow set is off as at scale
    # (the oracle check needs only the results table). Folding the seen
    # deltas every round puts a fold inside every timed round.
    return CrawlConfig(n_shards=8, bloom_bits_per_shard=1 << 17,
                       salt_buckets=4, exact_seen_shadow=False,
                       fold_seen_every=1)


def crawl_small_rounds(ctx: Ctx):
    from hyperion_crawler_spark import schemas as S
    from hyperion_crawler_spark.plans import loop

    cfg = crawl_config()
    d = ctx.inputs_dir
    spark = ctx.spark

    # ---- set-up: load the inputs, then the crawl bootstrap (seed
    # MERGE): it is the process's first Spark work, so it carries the
    # one-off warm-up a crawl start pays
    dfs = {name: spark.read.schema(getattr(S, name.upper()))
           .parquet(os.path.join(d, name)) for name in inputs.CRAWL_TABLES}
    store = os.path.join(ctx.work, "store")
    t0 = time.perf_counter()
    boot = loop.run_crawl(spark, store, cfg, dfs["corpus"], dfs["links"],
                          dfs["robots"], dfs["seeds"], n_rounds=0)
    boot_s = time.perf_counter() - t0
    seeded = boot[0]["seeded"]

    # ---- rounds: run_round start .. checkpoint commit; the warm-up
    # rounds are untimed and untraced
    tr = ctx.tracer
    round_s: list[float] = []
    round_cpu: list[float] = []
    orig_run_round = loop.run_round

    def timed_run_round(*a, **kw):
        c = ctx.procs.cpu_seconds()
        t = time.perf_counter()
        out = orig_run_round(*a, **kw)
        round_s.append(time.perf_counter() - t)
        round_cpu.append(ctx.procs.cpu_seconds() - c)
        return out

    loop.run_round = timed_run_round
    metrics: list[dict] = []
    error = None
    try:
        for r in range(1, WARMUP_ROUNDS + TIMED_ROUNDS + 1):
            if r == WARMUP_ROUNDS + 1:
                ctx.procs.active = True
                ctx.begin_timed()
                if tr is not None:
                    from hyperion_crawler_spark.plans import round as R

                    layer = CrawlLayerTrace(tr, spark, store)
                    layer.install(R)
            if tr is not None and r > WARMUP_ROUNDS:
                layer.before_round(r)
            metrics += loop.run_crawl(spark, store, cfg, dfs["corpus"],
                                      dfs["links"], dfs["robots"],
                                      dfs["seeds"], n_rounds=r)
            if tr is not None and r > WARMUP_ROUNDS:
                layer.after_round(r)
    except Exception as e:  # a failed round is a failed operation
        error = repr(e)
    finally:
        ctx.procs.active = False
        loop.run_round = orig_run_round
        if tr is not None:
            tr.unpatch()

    # ---- output checks (untimed)
    n_ok = len(metrics)
    t0 = time.perf_counter()
    try:
        verdicts = checks.check_crawl(spark, store, d, cfg, metrics,
                                      corrupt=ctx.corrupt) if n_ok else []
    except Exception as e:  # unreadable output fails every round's check
        verdicts = [[f"check raised {e!r}"]] * n_ok
    ctx.notes["check_s"] = round(time.perf_counter() - t0, 3)
    # a warm-up round is checked like the others but carries no time
    ops = [{"s": s if m["round"] > WARMUP_ROUNDS else None, "cpu_s": c,
            "ok": not bad}
           for m, s, c, bad in zip(metrics, round_s, round_cpu, verdicts)]
    ctx.notes["failed_checks"] = {m["round"]: bad for m, bad in
                                  zip(metrics, verdicts) if bad}
    if error is not None:
        ops.append({"s": None, "ok": False})
        ctx.notes["error"] = error
    enqueued = seeded + sum(m["new_urls"] for m in metrics)
    store_bytes = sum(_dir_files(store).values())
    timed = [(m["scheduled"], s) for m, s in zip(metrics, round_s)
             if m["round"] > WARMUP_ROUNDS]
    ctx.notes["rounds"] = [{k: m[k] for k in ("round", "scheduled", "fetched",
                                              "failed", "discovered",
                                              "new_urls")} | {"s": round(s, 3)}
                           for m, s in zip(metrics, round_s)]
    ctx.notes["boot_s"] = round(boot_s, 3)
    result = {
        "items_per_s": (sum(n for n, _ in timed) / sum(s for _, s in timed)
                        if timed else 0.0),
        "store_bytes_per_item": store_bytes / max(enqueued, 1),
    }
    if tr is not None:
        result["layers"] = layer.summary()
    return ops, result


class CrawlLayerTrace:
    """Traced crawl run: spans around the eager layer calls, capture of
    the lazy layers' inputs, and per-round replays of each lazy layer
    in isolation (after the round span closes) with a forcing action."""

    LAZY = ("schedule_round", "fetch_and_validate", "canonical_url_rows",
            "probe_and_update")

    def __init__(self, tracer, spark, store):
        self.tr, self.spark, self.store = tracer, spark, store
        self.captures: dict[str, tuple] = {}
        self.capturing = False
        self.rounds: list[dict] = []
        self.replays: list[dict] = []

    def install(self, round_mod) -> None:
        from hyperion_crawler_spark.plans import loop
        from hyperion_crawler_spark.sources import tables as T
        from hyperion_crawler_spark.state import seen

        tr = self.tr
        tr.patch(loop, "run_round", tr.named("round"))
        tr.patch(seen, "fold_filters", self._fold)
        tr.patch(T.Catalog, "commit_round", tr.named("tables.commit_round"))
        for op in ("merge", "append", "read"):
            tr.patch(T.SnapshotTable, op, self._table_op(op))
        tr.patch(T.SnapshotTable, "_commit", self._commit_counter(T.CommitConflict))
        for name in self.LAZY:
            tr.patch(round_mod, name, self._capture(name))

    def _table_op(self, op):
        tr = self.tr

        def make(orig):
            def wrapper(table, *a, **kw):
                with tr.span(f"tables.{op}", table=table.name):
                    out = orig(table, *a, **kw)
                if op == "merge" and table.merge_on_read and out:
                    prev = table._live_files(out - 1) if out > 1 else []
                    now = table._live_files(out)
                    if any(f.get("kind") == "delta" for f in prev) and \
                            not any(f.get("kind") == "delta" for f in now):
                        tr.count("tables.compactions")
                return out
            return wrapper
        return make

    def _fold(self, orig):
        def wrapper(*a, **kw):
            with self.tr.span("seen.fold"):
                out = orig(*a, **kw)
            if out is not None:
                self.tr.count("tables.compactions")
            return out
        return wrapper

    def _commit_counter(self, conflict_exc):
        tr = self.tr

        def make(orig):
            def wrapper(*a, **kw):
                try:
                    return orig(*a, **kw)
                except conflict_exc:
                    tr.count("tables.commit_conflicts")
                    raise
            return wrapper
        return make

    def _capture(self, name):
        def make(orig):
            def wrapper(*a, **kw):
                if self.capturing:
                    self.captures[name] = (a, kw)
                return orig(*a, **kw)
            return wrapper
        return make

    # ---- per round ----------------------------------------------------
    def before_round(self, r: int) -> None:
        self.captures = {}
        self.capturing = True
        self._files_before = _dir_files(self.store)
        self._n_spans = len(self.tr.spans)

    def after_round(self, r: int) -> None:
        self.capturing = False
        tr = self.tr
        new = tr.spans[self._n_spans:]
        rspan = next(s for s in new if s["name"] == "round")
        after = _dir_files(self.store)
        written = {p: sz for p, sz in after.items() if p not in self._files_before}
        rec = {"round": r, "wall_s": rspan["end"] - rspan["start"],
               "self_s": tr.self_time(rspan),
               "bytes_written": sum(v for p, v in written.items()
                                    if p.endswith(".parquet")),
               "files_written": sum(1 for p in written if p.endswith(".parquet")),
               "spark": spark_window(self.spark, rspan)}
        by: dict[str, float] = {}
        for s in new:
            key = s["name"]
            if key in ("tables.merge", "tables.append"):
                key = f"{key}.{s['table']}"
            by[key] = by.get(key, 0.0) + (s["end"] - s["start"])
        rec["spans"] = by
        self.rounds.append(rec)
        self._replay(r)

    def _replay(self, r: int) -> None:
        from pyspark.sql import functions as F

        from hyperion_crawler_spark.functions.urls import canonicalize_col
        from hyperion_crawler_spark.operators.politeness import schedule_round
        from hyperion_crawler_spark.plans.fetch import fetch_and_validate
        from hyperion_crawler_spark.plans.round import canonical_url_rows
        from hyperion_crawler_spark.state.seen import probe_and_update

        tr, cap, rep = self.tr, self.captures, {"round": r}
        pinned = []

        def materialize(df):
            df = df.persist()
            pinned.append(df)
            return df, df.count()

        try:
            if "schedule_round" in cap:
                (elig, robots, cfg), _ = cap["schedule_round"]
                elig, n_in = materialize(elig)
                with tr.span("politeness.schedule", round=r) as sp:
                    sch, exc = schedule_round(elig, robots, cfg)
                    n_s, n_x = sch.count(), exc.count()
                rep.update({
                    "politeness.schedule_s": sp["end"] - sp["start"],
                    "politeness.scheduled": n_s, "politeness.excluded": n_x,
                    "politeness.max_host_input": (
                        elig.groupBy("host").count().agg(F.max("count")).first()[0]
                        or 0)})
            if "fetch_and_validate" in cap:
                (sched, corpus), kw = cap["fetch_and_validate"]
                sched, n_att = materialize(sched)
                with tr.span("fetch", round=r) as sp:
                    by_status = dict(fetch_and_validate(sched, corpus, **kw)
                                     .groupBy("status").count().collect())
                payload = (corpus.join(sched.select("image_id"), "image_id")
                           .agg(F.sum(F.length("bytes"))).first()[0] or 0)
                rep.update({"fetch.s": sp["end"] - sp["start"],
                            "fetch.fetched_frac":
                                by_status.get("fetched", 0) / max(n_att, 1),
                            "fetch.payload_bytes": payload})
            if "canonical_url_rows" in cap:
                (raw, url_col, *rest), kw = cap["canonical_url_rows"]
                raw, n_raw = materialize(raw)
                with tr.span("urls.canon", round=r) as sp:
                    n_out = canonical_url_rows(raw, url_col, *rest, **kw).count()
                messy = raw.filter(~F.coalesce(canonicalize_col(url_col),
                                               F.lit(False))).count()
                rep.update({"urls.canon_s": sp["end"] - sp["start"],
                            "urls.rewritten_frac": messy / max(n_raw, 1),
                            "urls.dedup_keep_frac": n_out / max(n_raw, 1)})
            if "probe_and_update" in cap:
                (cand, filters, cfg), _ = cap["probe_and_update"]
                cand, n_cand = materialize(cand)
                with tr.span("seen.probe", round=r) as sp:
                    unseen, _newf, handle = probe_and_update(cand, filters, cfg)
                    n_unseen = unseen.count()
                handle.unpersist()
                n_rows = filters.count()
                n_shards = filters.select("shard").distinct().count()
                rep.update({"seen.probe_s": sp["end"] - sp["start"],
                            "seen.unseen_frac": n_unseen / max(n_cand, 1),
                            "seen.delta_rows_per_shard": n_rows / max(n_shards, 1)})
        finally:
            for df in pinned:
                df.unpersist()
        self.replays.append(rep)

    def summary(self) -> dict:
        """Per-round medians over the timed rounds (totals for the
        compaction and conflict counters, end state for live files)."""
        from hyperion_crawler_spark.sources.tables import Catalog

        rs, reps = self.rounds, self.replays
        out = {}

        def med(key, src):
            return _median([x[key] for x in src if key in x])

        out["round.self_s"] = _median([x["self_s"] for x in rs])
        sp = [x["spark"] for x in rs]
        out["round.spark_jobs"] = _median([x["jobs"] for x in sp])
        out["round.spark_stages"] = _median([x["stages"] for x in sp])
        out["round.spark_tasks"] = _median([x["tasks"] for x in sp])
        out["round.executor_busy_frac"] = _median([x["busy_frac"] for x in sp])
        out["round.gc_s"] = _median([x["gc_ms"] / 1000 for x in sp])
        out["round.shuffle_bytes"] = _median([x["shuffle_bytes"] for x in sp])
        out["round.spill_bytes"] = _median([x["spill_bytes"] for x in sp])
        for key in ("politeness.schedule_s", "politeness.scheduled",
                    "politeness.excluded", "politeness.max_host_input",
                    "urls.canon_s", "urls.rewritten_frac", "urls.dedup_keep_frac",
                    "fetch.s", "fetch.fetched_frac", "fetch.payload_bytes",
                    "seen.probe_s", "seen.unseen_frac",
                    "seen.delta_rows_per_shard"):
            out[key] = med(key, reps)
        out["seen.fold_s"] = _median([x["spans"]["seen.fold"] for x in rs
                                      if "seen.fold" in x["spans"]])
        for key in TABLE_SPANS:
            out[key] = _median([x["spans"].get(TABLE_SPANS[key], 0.0) for x in rs])
        out["tables.bytes_written"] = _median([x["bytes_written"] for x in rs])
        out["tables.files_written"] = _median([x["files_written"] for x in rs])
        cat = Catalog(self.store)
        out["tables.live_files"] = sum(
            len(cat.table(t)._live_files())
            for t in sorted(os.listdir(self.store))
            if os.path.isdir(os.path.join(self.store, t, "snapshots")))
        out["tables.compactions"] = self.tr.counters.get("tables.compactions", 0)
        out["tables.commit_conflicts"] = self.tr.counters.get(
            "tables.commit_conflicts", 0)
        return out


TABLE_SPANS = {
    "tables.merge_s.frontier": "tables.merge.frontier",
    "tables.append_s.results": "tables.append.results",
    "tables.append_s.archive": "tables.append.archive",
    "tables.append_s.seen_filters": "tables.append.seen_filters",
    "tables.append_s.lineage": "tables.append.lineage",
    "tables.commit_round_s": "tables.commit_round",
    "tables.read_s": "tables.read",
}


def spark_window(spark, span: dict) -> dict:
    from spans import spark_counters

    c = spark_counters(spark, span["wall_start"], span["wall_end"])
    cores = spark.sparkContext.defaultParallelism
    wall = span["end"] - span["start"]
    c["busy_frac"] = c["run_ms"] / 1000 / max(wall * cores, 1e-9)
    return c


# --------------------------------------------------------------------
# curate_docs
# --------------------------------------------------------------------

CURATE_STAGES = ("exact_dedup", "near_dedup", "semantic_dedup", "quality",
                 "bpe_train", "mix_tokenize", "pack", "write")
CURATE_ARGS = dict(window=1024, min_quality=0.6, alpha=0.5,
                   target_fraction=0.5, bpe_merges=2, semantic_threshold=0.97)


def curate_docs(ctx: Ctx):
    from pyspark.sql import functions as F

    from scripts.run_curate import curate

    d = ctx.inputs_dir
    spark = ctx.spark

    # ---- set-up: stage the input tables (file listing + schema)
    docs = spark.read.parquet(os.path.join(d, "documents")) \
        .select("doc_id", "source", "text")
    embs = spark.read.parquet(os.path.join(d, "embeddings")) \
        .select(F.col("doc_id"), "embedding")

    # ---- one cold curate, the spark-submit user's cost
    out_dir = os.path.join(ctx.work, "curated")
    ctx.procs.active = True
    ctx.begin_timed()
    c0 = ctx.procs.cpu_seconds()
    t0 = time.perf_counter()
    error = None
    try:
        with ctx.tracer.span("curate") if ctx.tracer else nullcontext():
            stats = curate(spark, docs, out_dir, embeddings=embs, **CURATE_ARGS)
    except Exception as e:  # a failed curate is a failed operation
        stats, error = None, repr(e)
    finally:
        curate_s = time.perf_counter() - t0
        curate_cpu = ctx.procs.cpu_seconds() - c0
        ctx.procs.active = False

    ok = False
    if stats is not None:
        ok, ctx.notes["curate_output"] = checks.check_curate(
            stats, out_dir, ctx.size, corrupt=ctx.corrupt)
    if error is not None:
        ctx.notes["error"] = error
    if stats is not None:
        ctx.notes["curate_timings"] = stats["timings"]
    out_bytes = sum(_dir_files(out_dir).values())
    n_in = stats["input"] if stats else 0
    result = {
        "items_per_s": n_in / curate_s if stats else 0.0,
        "store_bytes_per_item": out_bytes / max(n_in, 1),
    }
    if ctx.tracer is not None and stats is not None:
        tim = stats["timings"]
        ctx.tracer.stage_spans("curate", list(tim.items()))
        layers = {f"curate.{st}_s": tim.get(st, 0.0) for st in CURATE_STAGES}
        prev = stats["input"]
        for st in ("exact_dedup", "near_dedup", "semantic_dedup", "quality",
                   "mixed"):
            layers[f"curate.{st}_keep_frac"] = stats[st] / max(prev, 1)
            prev = stats[st]
        result["layers"] = layers
    return [{"s": curate_s, "cpu_s": curate_cpu, "ok": ok}], result


def _prepare(name, make):
    def prepare(bench_dir: str, size: str, seed: int) -> str:
        return inputs.cached(bench_dir, name, size, seed, make(size, seed))
    return prepare


# name -> (make inputs outside the program, run the workload)
WORKLOADS = {
    "crawl_small_rounds": (_prepare("crawl_small_rounds", inputs.make_crawl_inputs),
                           crawl_small_rounds),
    "curate_docs": (_prepare("curate_docs", inputs.make_docs_inputs), curate_docs),
}
