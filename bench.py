#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

The stdout summary line is kept deliberately TINY (<~500 bytes): the driver
captures only a bounded tail of merged stdout/stderr, and a full per-query
timing map (~4 KB for 138 queries) gets truncated mid-line and fails to
parse (this happened in rounds 1-3). The "queries" key therefore carries
only a small headline subset; the complete per-query timing map is written
to BENCH_DETAIL.json next to this script and committed to the repo.

Each query is forced to full materialization with a count() over the built
DataFrame (the driver-side equivalent of writing the result), timed
individually after a warm-up of the session.

Methodology (r5 verdict #6): the single-shot shared-JVM pass is subject to
the documented ±15% run-over-run noise (migrated GC stalls land on
arbitrary queries), so round-over-round deltas on individual entries were
partly noise. The TOP-20 most expensive entries — the ones that dominate
the total and the round-over-round comparison — are therefore RE-MEASURED
with the scale-bench discipline: restart the SparkSession (tears down block
storage + executor state), re-warm, run the query up to 3 times, keep the
min. BENCH_DETAIL.json records per-query methodology and both numbers; the
refined value replaces the noisy one in the totals. A wall-clock budget
(SPARK_GRAFT_REFINE_BUDGET, default 420 s) bounds the refinement pass so
the bench as a whole stays driver-safe.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from phabricator_etl_spark.registry import all_queries
    from phabricator_etl_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/session so the first query doesn't pay startup cost.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Warm the Python/Arrow workers too: the first mapInPandas otherwise
    # pays one pandas+numpy import per core, attributed to whichever query
    # happens to run it first.
    def _warm(batches):
        import numpy as np

        for pdf in batches:
            pdf["id"] = pdf["id"] + int(np.int64(0))
            yield pdf

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark.range(cpus * 4).repartition(cpus).mapInPandas(_warm, "id long").count()

    # Touch every input table once (file listing + parquet footers + scan
    # codegen) so the first timed query measures the query, not storage
    # cold-start. count() over parquet is metadata-cheap.
    from phabricator_etl_spark.sources.catalog import DRIVER_TABLES, load_table

    for t in DRIVER_TABLES:
        load_table(spark, sf_dir, t).count()

    # Materialize the (sf-independent, fixed-seed) Phabricator fixture world
    # once in warm-up: it's one-time synthesis shared by all 8 phab_*
    # pipeline queries, and leaving it inside whichever phab query runs
    # first makes that query's number setup-noise, not query time.
    try:
        from phabricator_etl_spark.plans.phab_queries import _ensure_world

        _ensure_world(spark)
    except Exception:  # noqa: BLE001 - warm-up must never kill the bench
        pass

    import gc

    # ---- calibration probes (r6 verdict #5) -------------------------------
    # Three fixed-size synthetic probes, independent of sf and the registry:
    # a codegen scan, a shuffle, and a Python-worker round-trip. Their
    # round-over-round movement is pure host/JVM drift (nothing in the repo
    # touches them), so a +20% uniform drift like r5->r6's shows up here and
    # becomes separable from real per-query regressions. Run at bench start
    # and again after the refine pass (shared-session wear visible too).
    def _calibrate(s) -> dict[str, float]:
        probes = {
            "calib_cpu_scan": lambda: s.range(50_000_000).selectExpr(
                "sum(id * 3 + (id & 7))"
            ).collect(),
            "calib_shuffle": lambda: s.range(4_000_000)
            .groupBy(F.pmod(F.col("id"), F.lit(4096)).alias("k"))
            .count()
            .orderBy("k")
            .limit(5)
            .collect(),
            "calib_python_worker": lambda: s.range(1_000_000)
            .repartition(cpus)
            .mapInPandas(_warm, "id long")
            .count(),
        }
        out = {}
        for pname, fn in probes.items():
            best = None
            for _ in range(3):
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            out[pname] = round(best, 3)
        return out

    from pyspark.sql import functions as F

    calibration = {"start": _calibrate(spark)}

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    total = 0.0
    # debug-only subset filter: smoke the refine/tail measurement machinery
    # on a handful of queries without paying the full 225-query first pass.
    # NEVER set for the recorded per-round bench (the driver runs bare).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    queries = all_queries()
    if only:
        wanted = set(only.split(","))
        queries = [q for q in queries if q.name in wanted]
    for i, q in enumerate(queries):
        t0 = time.perf_counter()
        try:
            df = q.build(spark, sf_dir)
            n = df.count()
            del df
        except Exception as e:  # noqa: BLE001 - one broken query must not
            # take down the whole bench line (r02 lost its entire result to
            # a single streaming AnalysisException)
            errors[q.name] = f"{type(e).__name__}: {str(e)[:200]}"
            print(f"# {q.name}: ERROR {errors[q.name]}", file=sys.stderr)
            continue
        dt = time.perf_counter() - t0
        timings[q.name] = round(dt, 3)
        total += dt
        print(f"# {q.name}: {dt:.3f}s ({n} rows)", file=sys.stderr)
        if i % 10 == 9:
            # release dead DataFrame/RDD references so the ContextCleaner
            # can free accumulated localCheckpoint blocks BETWEEN queries —
            # otherwise the JVM takes one big random ~10s GC stall that
            # lands on (and misattributes to) an arbitrary query
            gc.collect()

    # ---- refinement pass: scale-bench discipline for the top-40 ----------
    # Re-measure the most expensive entries (they dominate the total and are
    # the ones judged round-over-round) in a freshly restarted session with
    # min-of-3, under a wall-clock budget. first_pass keeps the raw number.
    # r6 verdict #5 widened this from 20 to 40 entries (20/223 tagged
    # fresh-session was too thin to separate drift from regression).
    refine_budget = float(os.environ.get("SPARK_GRAFT_REFINE_BUDGET", "900"))
    by_name = {q.name: q for q in all_queries()}
    top20 = sorted(timings, key=lambda k: timings[k], reverse=True)[:40]
    methodology = {name: "shared-jvm-single-shot" for name in timings}
    first_pass = dict(timings)

    def _fresh_session(for_query: str):
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        s = get_spark("bench-refine")
        s.sparkContext.setLogLevel("ERROR")
        s.range(1_000_000).selectExpr("sum(id)").collect()
        # warm-and-discard one canary-shaped probe: the per-cell contention
        # canary is otherwise the FIRST execution of its codegen shape in
        # this fresh JVM, and compile/JIT can push a cold probe past the
        # 1.6x gate on an idle host — a spurious settle loop plus a
        # '+contended-retry' mislabel (r8 advisor)
        s.range(50_000_000).selectExpr("sum(id * 3 + (id & 7))").collect()
        s.range(cpus * 4).repartition(cpus).mapInPandas(_warm, "id long").count()
        for t in DRIVER_TABLES:
            load_table(s, sf_dir, t).count()
        # the fixture world is only an input to the phab_*/etl_e2e_* entries;
        # re-synthesizing it for every other refine restart would spend the
        # refine budget on warm-up
        if for_query.startswith(("phab_", "etl_e2e_")):
            try:
                from phabricator_etl_spark.plans.phab_queries import _ensure_world

                _ensure_world(s)
            except Exception:  # noqa: BLE001
                pass
        return s

    # Contention canary: a ~0.1s pure-CPU probe run right after each refined
    # query. If it reads high against the start-of-run baseline, the host
    # was busy during that query's measurement window (observed in r7: a
    # periodic external burst inflated 7 consecutive refine cells 2-3x —
    # min-of-3 can't help when all three reps sit inside a ~2-minute burst),
    # so wait the burst out and re-measure once. The per-query canary value
    # is recorded in BENCH_DETAIL so any cell measured hot is identifiable.
    def _quick_canary(s) -> float:
        t0 = time.perf_counter()
        s.range(50_000_000).selectExpr("sum(id * 3 + (id & 7))").collect()
        return time.perf_counter() - t0

    # Canary floor = cheapest CPU-probe reading ever seen this run (same
    # design as scale_bench's): a fixed start-of-run baseline is itself one
    # sample — if the START was contended, a too-high baseline masks every
    # later burst. One-element list so the closures below can update it.
    calib_floor = [calibration["start"]["calib_cpu_scan"]]
    refine_canary: dict[str, float] = {}
    canary_pre: dict[str, float] = {}

    from phabricator_etl_spark.benchutil import (
        WARM_DEPS,
        cache_snapshot,
        clear_owned_caches,
        measure_reps,
        settle_verdict,
        warm_staged_inputs,
    )

    def _measure(
        spark, name: str, repeats: int, deadline: float, snap, holder=None
    ) -> float | None:
        """min-of-`repeats` under the scale-bench model-cache discipline
        (benchutil.py): the session model caches roll back to `snap` before
        EVERY rep so repeats re-pay builds the timed query itself performs —
        without this, rep 2+ of kmeans_cells (and any contended-retry rerun)
        silently measured an apply-with-warm-model. `snap` is taken ONCE by
        the caller (after dep warm-up, before the first run) and shared with
        the contended-retry rerun: a snapshot taken inside the rerun would
        see the first run's builds as pre-existing and never evict them —
        the r9 advisor caught exactly that (scale_bench scopes its snap
        outside _run_reps for the same reason).

        The rollback-before-every-rep + shared-best-holder discipline lives
        in benchutil.measure_reps (unit-tested with a counting fake — the
        r8 rerun-warm-model bug has a failing test there); this wrapper
        supplies only the query runner."""

        def _run_once():
            by_name[name].build(spark, sf_dir).count()

        return measure_reps(_run_once, repeats, snap, holder, deadline=deadline)

    def _measure_with_canary(
        spark,
        name: str,
        repeats: int,
        deadline: float,
        seed: float | None = None,
        strict_calm_start: bool = False,
    ):
        # PRE-measurement canary: a hot post-canary alone cannot distinguish
        # "the host was busy during the window" from "the query's own
        # execution left GC/block-storage debt" (the etl_e2e_* cells always
        # read post-hot for the second reason). clean-pre + hot-post = self
        # wear; hot-pre = ambient contention. Both are recorded in
        # BENCH_DETAIL (refine_canary_pre / refine_canary).
        pre = _quick_canary(spark)
        calib_floor[0] = min(calib_floor[0], pre)
        # Start the window calm when possible: a hot PRE here is most often
        # the session's own warm-up or the previous cell's wear (the shared
        # settle/tail JVM), and a window that begins hot ships a
        # known-inflated number that can never be confirmed. Wait it out
        # (bounded, deadline-guarded) exactly like the post-canary settle
        # loop — measuring on a calm window can only LOWER the recorded min.
        # the settle pass waits from the CONFIRM bar down (strict): between
        # the retry gate (1.6x/+0.1) and the confirm bar (1.3x/+0.05) lies a
        # dead zone where a window starts warm enough to block confirmation
        # but not hot enough to trigger this wait (observed: etl_e2e_full
        # missing confirmation on a 4 ms excess)
        _wait_bar = (
            max(1.3 * calib_floor[0], calib_floor[0] + 0.05)
            if strict_calm_start
            else max(1.6 * calib_floor[0], calib_floor[0] + 0.1)
        )
        if pre > _wait_bar:
            wait_t0 = time.perf_counter()
            while (
                time.perf_counter() - wait_t0 < 45
                and time.perf_counter() < deadline
            ):
                time.sleep(5)
                pre = _quick_canary(spark)
                calib_floor[0] = min(calib_floor[0], pre)
                if pre <= max(1.3 * calib_floor[0], calib_floor[0] + 0.05):
                    break
        canary_pre[name] = round(pre, 3)
        # canary at the START of every measurement window this attempt runs
        # (the contended-retry rerun appends its own) — settle_verdict judges
        # window starts, since a self-wearing cell's post is always hot
        window_pres = [pre]
        # dep warm-up / owner cache clearing / staged-input warm happen ONCE,
        # before the single snapshot both runs (first + contended rerun) share
        dep = WARM_DEPS.get(name)
        if dep is not None and dep in by_name:
            try:
                by_name[dep].build(spark, sf_dir).count()
            except Exception:  # noqa: BLE001 - dep warm-up is best-effort
                pass
        # a cache OWNER measured after another query's warm-up built its model
        # must start cold or its cell silently excludes the fit (benchutil)
        clear_owned_caches(name)
        try:
            warm_staged_inputs(spark, sf_dir, name)
        except Exception:  # noqa: BLE001 - staged-input warm is best-effort
            pass
        snap = cache_snapshot()
        # seed: the settle pass only REPLACES a cell when it improves on the
        # recorded number
        holder = [seed]
        best = _measure(spark, name, repeats, deadline, snap, holder)
        canary = _quick_canary(spark)
        calib_floor[0] = min(calib_floor[0], canary)
        retried = False
        # ratio AND absolute margin: the floor ratchets DOWN over the run
        # (min-ever-seen), so a pure 1.6x gate eventually fires on ~50 ms
        # canary noise — each firing costs a 45 s settle loop, which is how
        # the r9 tail burned its whole budget on phantom contention after
        # the floor hit 0.057 s. Real bursts read >= floor + ~100 ms.
        contended = canary > max(1.6 * calib_floor[0], calib_floor[0] + 0.1)
        if contended and time.perf_counter() < deadline:
            # measured during a load burst: wait it out (bounded), then
            # re-measure; keep the min across both attempts
            settle_t0 = time.perf_counter()
            while time.perf_counter() - settle_t0 < 45:
                time.sleep(5)
                canary = _quick_canary(spark)
                calib_floor[0] = min(calib_floor[0], canary)
                if canary <= max(1.3 * calib_floor[0], calib_floor[0] + 0.05):
                    break
            window_pres.append(canary)  # the rerun window starts HERE
            rerun = _measure(spark, name, repeats, deadline, snap, holder)
            if rerun is not None:
                best = rerun if best is None else min(best, rerun)
            canary = _quick_canary(spark)
            calib_floor[0] = min(calib_floor[0], canary)
            retried = True
        return best, canary, retried, window_pres

    refine_deadline = time.perf_counter() + refine_budget
    for name in top20:
        if time.perf_counter() > refine_deadline:
            print(f"# refine budget exhausted before {name}", file=sys.stderr)
            break
        try:
            spark = _fresh_session(name)
            # expensive entries amortize their own noise; cap their repeats
            repeats = 2 if first_pass[name] > 10.0 else 3
            best, canary, retried, _ = _measure_with_canary(
                spark, name, repeats, refine_deadline
            )
            refine_canary[name] = round(canary, 3)
            timings[name] = round(best, 3)
            methodology[name] = f"fresh-session-min-of-{repeats}" + (
                "+contended-retry" if retried else ""
            )
            print(
                f"# refine {name}: {first_pass[name]:.3f}s -> {best:.3f}s"
                + (f" (contended, canary {canary:.2f}s)" if retried else ""),
                file=sys.stderr,
            )
        except Exception as e:  # noqa: BLE001 - keep the first-pass number
            print(f"# refine {name} failed, keeping first pass: {e}", file=sys.stderr)
        gc.collect()

    # ---- tail pass (r7 verdict #3): min-of-3 for every remaining entry ----
    # A fresh JVM per entry across all ~225 queries would spend ~45 min on
    # session spinups alone (the documented cost argument for not extending
    # the top-40 discipline 1:1). Instead the tail runs in fresh JVMs of
    # TAIL_BATCH entries each: every cell still gets min-of-3 with a
    # per-cell contention canary and the model-cache rollback, while
    # shared-JVM wear (block storage, GC debt — the reason single-shot
    # numbers drifted ±15%) is bounded by the batch length instead of the
    # whole run. Tagged fresh-batch-jvm-min-of-N so round-over-round
    # comparisons never pair these with single-shot or fresh-session cells.
    tail_budget = float(os.environ.get("SPARK_GRAFT_TAIL_BUDGET", "900"))
    # CHEAPEST-first (r8 verdict #4: the r8 tail ran expensive-first and its
    # budget died after 20 of 208 cells — descending order spends the whole
    # budget on the handful of multi-second entries, stranding the ~150
    # sub-second ones that each cost ~1 s to migrate; ascending maximizes
    # cells-migrated-per-budget-second, and the most expensive entries are
    # already covered by the top-40 fresh-session refine above).
    tail = [
        n
        for n in sorted(timings, key=lambda k: timings[k])
        if methodology[n] == "shared-jvm-single-shot"
    ]
    TAIL_BATCH = 40
    tail_deadline = time.perf_counter() + tail_budget
    in_batch = TAIL_BATCH
    for name in tail:
        if time.perf_counter() > tail_deadline:
            print(
                f"# tail budget exhausted before {name} "
                f"({tail.index(name)}/{len(tail)} done)",
                file=sys.stderr,
            )
            break
        try:
            if in_batch >= TAIL_BATCH:
                # "phab_batch" prefix-matches the world-ensure branch: tail
                # batches interleave phab entries, so every batch session
                # carries the fixture world
                spark = _fresh_session("phab_batch")
                in_batch = 0
            in_batch += 1
            # sub-second entries get min-of-2: their rep variance is far
            # below the shared-jvm drift the tail exists to remove, and the
            # third rep's budget migrates another stranded cell instead
            reps = 2 if first_pass[name] < 1.0 else 3
            best, canary, retried, _ = _measure_with_canary(
                spark, name, reps, tail_deadline
            )
            if best is None:
                continue
            refine_canary[name] = round(canary, 3)
            timings[name] = round(best, 3)
            methodology[name] = f"fresh-batch-jvm-min-of-{reps}" + (
                "+contended-retry" if retried else ""
            )
        except Exception as e:  # noqa: BLE001 - keep the first-pass number
            print(f"# tail {name} failed, keeping first pass: {e}", file=sys.stderr)
        if in_batch % 10 == 0:
            gc.collect()

    # ---- settle pass (r8 verdict #5): end-of-run re-measure of hot cells --
    # Cells whose recorded per-cell canary sat >1.5x the floor were measured
    # during host contention and carry known-inflated numbers even after the
    # in-flight contended-retry (r7/r8 shipped several). The host is often
    # calm by END of the run (r8: end calibration 1.7x better than start),
    # so spend a bounded budget re-measuring the still-hot cells worst-first
    # in a fresh session and keep the min.
    #
    # The pass also RE-CLASSIFIES: a '+contended-retry' tag asserts the cell
    # is known-inflated, but once an end-of-run re-measure runs in a window
    # whose PRE canary was calm, min(recorded, settle_best) is a legitimate
    # calm-host sample (contention only ever ADDS wall time) and the tag's
    # claim is refuted by measurement — benchutil.settle_verdict holds the
    # decision rule. Previously a flag could never be cleared at all: the
    # settle list keyed on the FINAL canary only (a flagged cell whose retry
    # already ended calm was skipped with its stale flag), and cells whose
    # own execution heats the post-canary (etl_e2e_*: the documented
    # clean-pre/hot-post self-wear pattern) re-flagged on every run forever.
    settle_budget = float(os.environ.get("SPARK_GRAFT_SETTLE_BUDGET", "300"))
    settle_confirmed: dict[str, dict] = {}
    _hot_gate = max(1.5 * calib_floor[0], calib_floor[0] + 0.1)
    hot = sorted(
        (
            n
            for n, c in refine_canary.items()
            if n in timings
            and (
                c > _hot_gate
                # a window that BEGAN hot shipped an inflated number even if
                # the post read calm (a burst ending mid-window never trips
                # the retry gate, which watches the post canary only)
                or canary_pre.get(n, 0.0) > _hot_gate
                or "+contended-retry" in methodology[n]
            )
        ),
        key=lambda n: max(refine_canary[n], canary_pre.get(n, 0.0)),
        reverse=True,
    )
    if hot:
        settle_deadline = time.perf_counter() + settle_budget
        settle_spark = None
        for name in hot:
            if time.perf_counter() > settle_deadline:
                print(f"# settle budget exhausted before {name}", file=sys.stderr)
                break
            try:
                if settle_spark is None:
                    settle_spark = spark = _fresh_session("phab_batch")
                reps = 2 if timings[name] > 10.0 else 3
                recorded = timings[name]
                best, canary, retried, window_pres = _measure_with_canary(
                    settle_spark,
                    name,
                    reps,
                    settle_deadline,
                    seed=timings.get(name),
                    strict_calm_start=True,
                )
                if best is None:
                    continue
                if best < timings[name]:
                    timings[name] = round(best, 3)
                    methodology[name] = f"settle-pass-min-of-{reps}" + (
                        "+contended-retry" if retried else ""
                    )
                verdict = settle_verdict(window_pres, canary, calib_floor[0])
                if verdict is not None and "+contended-retry" in methodology[name]:
                    # calm-window re-measure refutes "known-inflated": drop
                    # the flag, keep the full evidence trail in BENCH_DETAIL
                    methodology[name] = f"settle-{verdict}-min-of-{reps}"
                    settle_confirmed[name] = {
                        "recorded": recorded,
                        "settle_best": round(best, 3),
                        "window_pres": [round(w, 3) for w in window_pres],
                        "post": round(canary, 3),
                    }
                refine_canary[name] = round(canary, 3)
                print(
                    f"# settle {name}: -> {timings[name]:.3f}s (canary {canary:.2f}s)"
                    + (f" [{verdict}]" if verdict else ""),
                    file=sys.stderr,
                )
            except Exception as e:  # noqa: BLE001 - keep the prior number
                print(f"# settle {name} failed: {e}", file=sys.stderr)
            gc.collect()
    total = sum(timings.values())
    # end-of-run calibration in whatever session state the refine left
    # behind: start-vs-end delta = within-run wear; round-over-round start
    # deltas = host drift
    try:
        calibration["end"] = _calibrate(spark)
    except Exception as e:  # noqa: BLE001
        print(f"# end calibration failed: {e}", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf_dir

    # Full per-query detail goes to a committed file, NOT stdout: the
    # driver's tail-capture window is ~2 KB and a 138-entry timing map
    # (~4 KB) truncates the line mid-JSON (rounds 1-3 all lost their bench
    # result this way).
    detail = {
        "metric": "total_query_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "queries": timings,
        "first_pass": first_pass,
        "methodology": methodology,
        "calibration": calibration,
        "refine_canary": refine_canary,
        "refine_canary_pre": canary_pre,
        # the uncontended-floor the per-cell canaries were judged against
        "canary_floor": round(calib_floor[0], 3),
        # cells whose contended-retry flag was refuted by a calm-window
        # settle re-measure: full evidence (recorded vs settle_best, canary
        # brackets) so the cleared flag stays auditable
        "settle_confirmed": settle_confirmed,
        "errors": errors,
    }
    # a BENCH_ONLY smoke run must not clobber the committed full-run artifact
    detail_path = (
        "/tmp/BENCH_DETAIL.smoke.json"
        if only
        else os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError as e:  # detail file is best-effort; the stdout line is not
        print(f"# BENCH_DETAIL.json write failed: {e}", file=sys.stderr)

    # Headline subset only — one representative per family keeps the line
    # small enough to survive the tail window while still giving the driver
    # per-query visibility. n_queries/n_errors make a partial run visible:
    # a total over fewer completed queries cannot masquerade as a speedup.
    headline = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "phab_revisions",
        "dedup_minhash_lsh",
        "dedup_embedding_cosine",
        "ann_topk_vectorized",
        "text_quality_score",
        "stream_tumbling_daily",
    ]
    out = {
        "metric": "total_query_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_errors": len(errors),
        # one-number host-drift canary (sum of the start calibration probes)
        "calib": round(sum(calibration["start"].values()), 3),
        "queries": {k: timings[k] for k in headline if k in timings},
    }
    # Start from a guaranteed-fresh line: Spark/py4j may have left an
    # unterminated \r-progress fragment on the merged stream, which would
    # otherwise glue itself to the JSON and break the driver's parse.
    sys.stderr.flush()
    sys.stdout.write("\n" + json.dumps(out) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
