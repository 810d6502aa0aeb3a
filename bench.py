#!/usr/bin/env python
"""Benchmark harness — run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints THREE JSON lines; the FINAL line is the compact headline object
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q01_pricing_summary": sec, ...}, "sf": 0.1}
preceded by a one-line pointer to BENCH_DETAIL.json and, before that,
the full detail (min/max spreads, the sf1/sf10/curate/federation/
streaming sections). The split is an artifact contract, not
cosmetics: the driver machine-reads the bench through a fixed-size
tail capture (~2000 chars), and in rounds 6 and 14 the detail line
outgrew it, truncating sections out of the committed artifact — so
since round 15 the WHOLE detail object (headline included) is also
written to the committed BENCH_DETAIL.json, overwritten each run.
Keep the final line COMPACT — per-query medians only, no nested
sections.

``value`` stays the sum over the LEGACY 13-query headline set so the
number remains comparable to BASELINE.md and BENCH_r01-r06; the
model-filter passes promoted in round 7 (classifier score, bigram-LM
perplexity, token drift — the dominant corpus scans of a real 100 TB
curation run) are timed alongside and reported per-query plus as
``model_ops_sec`` (and folded into ``total_sec``).

Timing is wall-clock per query over a full materialization so the
whole plan executes. Two warm-up passes precede the timed pass:
sf0.001 (JVM boot, parquet footers) and one untimed pass at the
TARGET sf. The second is load-bearing: AQE picks different physical
plans at tiny scale (broadcast joins where the target scale
sort-merges), so an sf0.001-only warmup leaves the target-scale
generated classes cold — five sf0.001 warmups of p09 recover none of
its first-sf0.1-run cost, while one target-SF pass recovers most of
it for every query (q33: 0.84s → 0.24s).

Known residue, chased to ground in round 4 (the r3 "p09 bench
anomaly"): p09 is NOT session aging. Its per-run cost is (a) plan
construction — hundreds of py4j round-trips building the signature/
band/vote expressions, cut 0.87s → 0.4s by batching them into parsed
F.expr strings (bit-identical values), and (b) execution, whose
large codegen'd signature method keeps JIT-tiering for ~6
invocations (2.46 → 1.52s across consecutive runs in one session).
After the two warmups p09 still reports ~1.9s vs ~1.5s fully tiered;
buying the last 0.3-0.4s would take ~4 more warmup passes of the
whole suite — JIT ramp, not plan cost, and the plan is the
scale-right one (SMJ keeping AQE skew-split available).

Host-noise caveat (measured round 4): IDENTICAL code on an idle guest
measured 7.32s, 9.47s, 9.77s, and 12.09s across one session — the
guest's loadavg spiked with no local CPU consumers, i.e. hypervisor
host contention invisible from inside the VM. Run-to-run deltas under
~1.7x are environment, not regressions; compare per-query RATIOS
across a single run when judging plan changes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# Host-speed calibration (round 13, verdict item 2): rounds 11 and 12
# each burned a session-chunk proving a uniform bench shift was host
# drift, not a plan regression (25-40% between-round variance is the
# documented pattern — the host reboots between sessions). The fix is
# to measure the host IN the artifact: a fixed-work sha256 probe,
# single-thread and 32-thread (hashlib releases the GIL on 1 MiB
# buffers, so the MT variant measures real multicore throughput — the
# resource the 32-thread Spark suite actually contends for). The
# reference constants below were measured on the round-13 host
# (3 trials: st 0.681/0.688/0.694, mt 0.265/0.256/0.267); a future
# round's `host_speed` of e.g. 0.75 says "this host ran the fixed
# work at 75% of the r13 host's speed — multiply the raw headline by
# 0.75 to estimate what the reference host would have measured".
# `value_norm` does that multiplication in-artifact.
_CALIB_REF_ST = 0.687
_CALIB_REF_MT = 0.262
_CALIB_BUF = bytes(range(256)) * 4096  # 1 MiB, deterministic

# The baseline end of the normalization (round 14, verdict item 1):
# median normalized legacy-13 wall-clock of the exact round-1 code
# (commit c6a11b3) re-measured with this calib probe in-process —
# BASELINE.md "Calibrated baseline" / SCALE.md §6g hold the run table.
# The bench gate in normalized space: value_norm <= 2 * _BASELINE_NORM.
_BASELINE_NORM = 13.2088


def _calib_work(n: int) -> str:
    import hashlib

    h = hashlib.sha256()
    for _ in range(n):
        h.update(_CALIB_BUF)
    return h.hexdigest()


def _calibrate() -> dict:
    """Time the pinned fixed work; return raw seconds plus the
    host-speed ratio (reference host = 1.0, slower host < 1.0).
    Geometric mean of the ST and MT ratios: the suite's cost is a mix
    of single-threaded driver/py4j plan construction and 32-way
    executor work, and the mean keeps one pathological dimension from
    dominating the normalization.

    Round 15 (verdict item 4): THREE interleaved trials per dimension,
    per-dimension MIN. The probe's job is the host's intrinsic speed,
    and min-of-N is robust to the transient hypervisor spikes that a
    single probe inherits — r13's lone MT probe ran 4.6× contended,
    deflating that round's value_norm on flat raw (the gate's official
    metric moved with calib.mt, not with the code). Min probes can
    only report the host FASTER than a single probe would, i.e.
    value_norm under this calib is ≥ the old definition's — the
    conservative direction for the gate. All trials are recorded so a
    contended round is visible in the artifact itself; value_norm_st /
    value_norm_mt land alongside the geomean headline so a reader can
    see which dimension any swing came from."""
    import time as _t
    from concurrent.futures import ThreadPoolExecutor

    _calib_work(64)  # warm the hash loop itself
    sts: list[float] = []
    mts: list[float] = []
    for _ in range(3):
        t0 = _t.perf_counter()
        _calib_work(768)
        sts.append(round(_t.perf_counter() - t0, 4))
        with ThreadPoolExecutor(max_workers=32) as ex:
            t0 = _t.perf_counter()
            list(ex.map(_calib_work, [192] * 32))
            mts.append(round(_t.perf_counter() - t0, 4))
    st, mt = min(sts), min(mts)
    speed = ((_CALIB_REF_ST / st) * (_CALIB_REF_MT / mt)) ** 0.5
    return {
        "st_sec": st,
        "mt_sec": mt,
        "st_trials": sts,
        "mt_trials": mts,
        "host_speed": round(speed, 4),
        "host_speed_st": round(_CALIB_REF_ST / st, 4),
        "host_speed_mt": round(_CALIB_REF_MT / mt, 4),
    }


def _section_boundary(spark, cpus: str, fresh: bool = False):
    """Between bench sections (round 16, §5). Three jobs, all strictly
    OUTSIDE every timed region — no timed number's methodology
    changes:

    (a) nudge a driver GC so the ContextCleaner releases checkpoint/
        broadcast blocks orphaned by completed queries — a full bench
        session executes ~80+ query constructions whose
        localCheckpoint blocks otherwise linger until an arbitrary GC;
    (b) ``fresh=True``: STOP and rebuild the session, the
        deterministic memory baseline for the heaviest section. Two
        end-of-round runs died of a Java-heap OOM in the sf10 x97
        pass that the same query survives standalone (35.0 s
        broadcast / 55.6 s equijoin, identical 51200 rows) — ~2700
        stages of accumulated session state is the difference, and
        advisory GC alone did not reclaim it. Each sf10 op keeps its
        own sf1-scale warm pass inside the new session, so the
        section's one-timed-pass-after-warm methodology is unchanged;
    (c) if a fatal executor error KILLED the JVM (Spark's uncaught-
        exception handler exits the whole local-mode process), clear
        pyspark's module-level gateway state so a NEW JVM launches —
        otherwise every later section dies of ConnectionRefused on
        the dead gateway and curate/federation/streaming are erased
        (exactly what the OOM runs lost)."""
    import gc as _gc

    try:
        dead = spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 — a gateway error IS a dead session
        dead = True
    if dead or fresh:
        if dead:
            print("bench: SparkContext died; rebuilding for next section",
                  file=sys.stderr)
        try:
            spark.stop()
        except Exception:  # noqa: BLE001
            pass
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        gateway_alive = False
        if SparkContext._gateway is not None:
            try:
                SparkContext._gateway.jvm.java.lang.System.currentTimeMillis()
                gateway_alive = True
            except Exception:  # noqa: BLE001
                gateway_alive = False
        # Relies on pyspark 4.1.x private internals: the class-level
        # SparkContext._lock/_gateway/_jvm/_active_spark_context and
        # SparkSession._instantiatedSession/_activeSession. Re-check
        # them when upgrading pyspark.
        if not gateway_alive:
            # the JVM itself is gone; close the dead gateway's py4j
            # client (its thread and socket would leak otherwise) and
            # drop it so the builder below launches a fresh one
            with SparkContext._lock:
                try:
                    if SparkContext._gateway is not None:
                        SparkContext._gateway.shutdown()
                except Exception:  # noqa: BLE001 — already half gone
                    pass
                finally:
                    SparkContext._active_spark_context = None
                    SparkContext._gateway = None
                    SparkContext._jvm = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        from csvb_spark.session import get_session

        spark = get_session(
            app_name="csvb_spark_bench",
            master=f"local[{cpus}]",
            shuffle_partitions=int(cpus),
        )
    _gc.collect()
    try:
        spark._jvm.System.gc()
    except Exception:  # noqa: BLE001
        pass
    return spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from csvb_spark.session import get_session
    from csvb_spark.queries import corpus

    spark = get_session(
        app_name="csvb_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )

    calib = _calibrate()  # before the suite: measure the host, not the JVM

    names = [n for n, q in sorted(corpus().items()) if q.headline]
    queries = corpus()

    # Warm-up: once at the smallest SF (JVM boot), then once UNTIMED at
    # the target SF — AQE's plan shapes (and thus the generated classes
    # C2 compiles) differ by scale, so only a target-scale pass warms
    # the code the timed pass runs (see module docstring for numbers).
    for n in names:
        queries[n].spark(spark, "/root/testdata/sf0.001").count()
    for n in names:
        queries[n].spark(spark, sf_dir).count()
    # Round 16 (r15 verdict item 8): p09's large codegen'd signature
    # method keeps JIT-tiering for ~6 invocations (the r4 finding in
    # the module docstring), so after the two standard warmups its
    # 3-pass median still carried a ~0.3-0.4 s tiering residue that
    # drowned 10% plan effects (the r15 10→8-exchange win measured
    # 1.17x against an untouched-query median of 1.40x). Four extra
    # target-SF warm passes tier it fully BEFORE the timed passes.
    # Measurement change only — p09 computes the same rows from the
    # same inputs each pass; every other query keeps the two-warmup
    # protocol unchanged.
    if "p09_dedup_minhash_lsh" in queries:
        for _ in range(4):
            queries["p09_dedup_minhash_lsh"].spark(spark, sf_dir).count()

    # Three timed passes; report the per-query MEDIAN (robust against
    # the documented hypervisor-contention spikes) plus the min/max
    # spread so host-noise claims stay auditable from the artifact
    # itself rather than asserted from memory.
    n_iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    runs: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(n_iters):
        for n in names:
            t0 = time.perf_counter()
            df = queries[n].spark(spark, sf_dir)
            df.count()
            runs[n].append(time.perf_counter() - t0)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

    timings = {n: round(median(v), 4) for n, v in runs.items()}
    spread = {n: [round(min(v), 4), round(max(v), 4)] for n, v in runs.items()}

    # --- EXTRA measured rows (round 16) — reported in the compact
    # line's ``queries`` dict (additive; the driver's per-query tables
    # pick them up) but NEVER summed into value/model_ops_sec/
    # total_sec, which stay the BASELINE-comparable sums over the
    # corpus rows above. Same protocol as the main loop: one untimed
    # warm pass, then n_iters timed passes, median + spread.
    from pyspark.sql import functions as _F

    extra: dict[str, float] = {}
    extra_spread: dict[str, list[float]] = {}
    extra_err: dict[str, str] = {}

    def _extra_row(name: str, fn) -> None:
        try:
            fn()  # warm: plan compile + codegen
            xs: list[float] = []
            for _ in range(n_iters):
                t0 = time.perf_counter()
                fn()
                xs.append(time.perf_counter() - t0)
            extra[name] = round(median(xs), 4)
            extra_spread[name] = [round(min(xs), 4), round(max(xs), 4)]
        except Exception as ex:  # record, never kill the bench
            extra_err[name] = f"{type(ex).__name__}: {ex}"[:300]

    # (a) core-contract probe (r15 verdict item 2): at sf0.1 every
    # corpus query is dominated by fixed per-job scheduling/JIT cost,
    # so the driver's 8-vs-32-core scaling ratios all read ~1 and the
    # probe flags suspect_cpus_ignored even though bench.py honors
    # $SPARK_GRAFT_CPUS. This row is genuinely CORE-BOUND at any SF: a
    # fixed-depth codegen'd xxhash64 chain over an exploded per-doc
    # sequence — long-to-long register compute, allocation-free, no
    # shuffle beyond the spread repartition — so its 8-vs-32-core
    # wall-clock ratio tracks the MACHINE's real parallel capacity and
    # proves the $SPARK_GRAFT_CPUS contract from the artifact alone.
    # Expect ~1.7-1.9x here, not 4x: this host's own calib probes show
    # 32 threads deliver only ~2.2x one thread's fixed-work throughput
    # (calib.st_sec/mt_sec in this artifact — an oversubscribed
    # hypervisor), so ~1.8x from 4x the cores IS the hardware ceiling;
    # the contract signal is the ratio being far from 1.0, where every
    # overhead-bound corpus row sits. Deterministic, computed from the
    # parquet input every run; work is fixed per document, partitions
    # scale with the core count. pmod bounds the ANSI-mode sum (5e3
    # docs x 1e9 << 2^63).
    def _cpu_scaling_probe() -> None:
        df = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .repartition(4 * int(cpus))
            .select(
                "doc_id",
                _F.explode(_F.sequence(_F.lit(1), _F.lit(2000))).alias("i"),
            )
        )
        h = _F.xxhash64("doc_id", "i")
        for _ in range(128):
            h = _F.xxhash64(h)
        df.select(_F.sum(_F.pmod(h, _F.lit(1_000_000_000))).alias("s")).collect()

    _extra_row("zz_cpu_scaling_probe", _cpu_scaling_probe)

    # (b) scorer-class noop-sink row (r15 verdict item 6): x64's
    # count() number never measures the scoring fold — count prunes
    # the scoring projection (guide §1.4) — so the r15 staged-CSE win
    # (−40% under full materialization) was invisible to the bench.
    # This row times the SAME declared query under the noop sink,
    # which materializes every column (§1.4), so projection-level
    # wins (and regressions) in scorer-class operators are visible in
    # the committed artifact. The count()-timed x64 row above is
    # unchanged for cross-round comparability.
    def _noop_row(qname: str):
        def _run() -> None:
            (
                queries[qname]
                .spark(spark, sf_dir)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )

        return _run

    _extra_row("x64_linear_classifier_noop", _noop_row("x64_linear_classifier"))
    # x89 joined the scorer-class noop rows in round 16: its one-pass
    # wordstats rewrite moves the ctx/cont aggregation work from
    # inside the count() job into an eager vocab-bounded checkpoint,
    # so the count()-timed row reads flat while a materializing sink
    # (which pays the full scoring projection both before and after)
    # shows the -30% probe win. Same additive protocol as x64's row.
    _extra_row(
        "x89_kneser_ney_perplexity_noop",
        _noop_row("x89_kneser_ney_perplexity"),
    )

    # round-7 model-filter additions, reported separately so "value"
    # stays the legacy-13 sum BASELINE.md was measured on
    legacy = {n: t for n, t in timings.items() if n not in MODEL_OPS}
    model = {n: t for n, t in timings.items() if n in MODEL_OPS}

    out = {
        "metric": "headline query wall-clock at sf "
        f"{sf} on local[{cpus}] (sum of per-query medians over "
        f"{n_iters} passes, {len(legacy)} legacy queries; "
        f"{len(model)} post-baseline op passes timed separately)",
        "value": round(sum(legacy.values()), 4),
        "unit": "sec",
        # corpus rows plus the round-16 extra rows (cpu scaling probe,
        # x64 noop sink) — extras are reported per-query only, never
        # summed into value/model_ops_sec/total_sec
        "queries": {**timings, **extra},
        "model_ops_sec": round(sum(model.values()), 4),
        "total_sec": round(sum(timings.values()), 4),
        "sf": sf,
        # core-contract evidence (round 16, r15 verdict item 2): the
        # master string and the JVM's actual parallelism, so the
        # artifact itself proves $SPARK_GRAFT_CPUS reached the session
        "master": f"local[{cpus}]",
        "default_parallelism": spark.sparkContext.defaultParallelism,
        # host-speed calibration: raw probe seconds + the speed ratio
        # vs the pinned r13 reference host, and the headline scaled
        # by that ratio — compare value_norm across rounds to judge
        # PLAN changes, value to judge what this host actually did
        "calib": calib,
        "value_norm": round(
            sum(legacy.values()) * calib["host_speed"], 4
        ),
        # round 14 (verdict item 10): every timed section normalizes,
        # not just the legacy headline — and the artifact carries the
        # gate's other end (BASELINE.md round-14 calibrated re-measure
        # of the r01 code: median normalized legacy-13 = 13.2088), so
        # a BENCH line is gate-checkable without cross-file forensics:
        # PASS iff value_norm <= 2 * baseline_norm.
        "model_ops_norm": round(
            sum(model.values()) * calib["host_speed"], 4
        ),
        # single-dimension normalizations (round 15, verdict item 4):
        # the gate reads value_norm (geomean — the only blend that was
        # consistent across the baseline re-measure's three runs, ±6%
        # vs ±39%/±30% for ST/MT alone), but when value_norm swings on
        # flat raw these two columns show WHICH probe dimension moved
        # — the drift protocol's first check, now in-artifact.
        "value_norm_st": round(
            sum(legacy.values()) * calib["host_speed_st"], 4
        ),
        "value_norm_mt": round(
            sum(legacy.values()) * calib["host_speed_mt"], 4
        ),
        "baseline_norm": _BASELINE_NORM,
    }
    detail = {"spread": {**spread, **extra_spread}, "iterations": n_iters, "sf": sf}
    if extra_err:
        detail["extra_row_errors"] = extra_err

    # --- sf1 section: one decade more data, to catch constant-factor
    # cliffs the sf0.1 run hides. No sf1 fixture exists, so the data is
    # a DETERMINISTIC 10x upscale of sf0.1: ten key-shifted copies of
    # every fact table (dimension tables nation/region unshifted, like
    # real growth), cached across runs. One warm pass + one timed pass
    # (the headline metric above stays the sf0.1 median for BASELINE
    # comparability). Disable with SPARK_GRAFT_SF1=0.
    spark = _section_boundary(spark, cpus)
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        try:
            sf1_dir = os.environ.get(
                "SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1"
            )
            _ensure_sf1(spark, sf_dir, sf1_dir)
            for n in names:
                queries[n].spark(spark, sf1_dir).count()
            sf1_iters = int(os.environ.get("SPARK_GRAFT_SF1_ITERS", "2"))
            sf1_runs: dict[str, list[float]] = {n: [] for n in names}
            for _ in range(sf1_iters):
                for n in names:
                    t0 = time.perf_counter()
                    queries[n].spark(spark, sf1_dir).count()
                    sf1_runs[n].append(time.perf_counter() - t0)
            sf1_t = {n: round(median(v), 4) for n, v in sf1_runs.items()}
            out["sf1_norm"] = round(
                sum(sf1_t.values()) * calib["host_speed"], 4
            )
            detail["sf1"] = {
                "queries": sf1_t,
                "spread": {
                    n: [round(min(v), 4), round(max(v), 4)]
                    for n, v in sf1_runs.items()
                },
                "total": round(sum(sf1_t.values()), 4),
                "iterations": sf1_iters,
                "note": "synthetic 10x key-shifted upscale of sf0.1 "
                "(documents texts alphabet-rotated per copy so dedup "
                "scales like a real crawl); per-query median over "
                f"{sf1_iters} passes after one warm pass",
            }
        except Exception as ex:  # never let the sf1 extra kill the bench
            detail["sf1"] = {"error": f"{type(ex).__name__}: {ex}"}

    # --- sf10 spot-check (round 11): ONE more decade for the three
    # heaviest corpus ops only (all documents-only scans), to catch
    # constant-factor cliffs that sf1 still hides. Built as 100
    # affine-permuted key-shifted copies of sf0.1 documents (affine
    # a∈{1,3,5,7}, b=k%26 — 100 DISTINCT alphabet permutations, so
    # cross-copy shingle sharing stays ~zero and dedup scales linearly
    # like a real 100x crawl; plain rotation only has 26 distinct
    # values and would manufacture quadratic dup clusters). One timed
    # pass per op after an sf1-scale warm (plan shapes at sf1 and sf10
    # match — both are past AQE's broadcast thresholds).
    spark = _section_boundary(spark, cpus, fresh=True)
    if os.environ.get("SPARK_GRAFT_SF10", "1") != "0":
        try:
            sf10_dir = os.environ.get(
                "SPARK_GRAFT_SF10_DIR", "/tmp/spark_graft_sf10"
            )
            _ensure_sf10_docs(spark, sf_dir, sf10_dir)
            warm_dir = os.environ.get(
                "SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1"
            )
            sf10_t: dict[str, float] = {}
            sf10_err: dict[str, str] = {}
            sf1_q = dict(detail.get("sf1", {}).get("queries") or {})
            for n in SF10_OPS:
                # per-op guard: an op that dies at sf10 (OOM, the
                # exact signal this section hunts) must be RECORDED as
                # a failure, not erase the other ops' measurements —
                # round 12 lost a whole section to one OOM before this
                try:
                    if os.path.isdir(warm_dir):
                        queries[n].spark(spark, warm_dir).count()  # warm
                        if n not in sf1_q:
                            # ops outside the headline set have no sf1
                            # median — time a SECOND sf1 pass as their
                            # denominator (the first was the cold warm)
                            t0 = time.perf_counter()
                            queries[n].spark(spark, warm_dir).count()
                            sf1_q[n] = round(time.perf_counter() - t0, 4)
                    t0 = time.perf_counter()
                    queries[n].spark(spark, sf10_dir).count()
                    sf10_t[n] = round(time.perf_counter() - t0, 4)
                except Exception as ex:  # noqa: BLE001
                    sf10_err[n] = f"{type(ex).__name__}: {ex}"[:300]
            # x97 repeat passes (round 16, r15 verdict item 3): the
            # r15 driver artifact recorded x97 at 15.89x sf1 (126 s)
            # where the builder measured 6.22x — a single timed pass
            # cannot distinguish a plan cliff from one host-contention
            # spike. x97 (the heaviest sf10 row) now gets two EXTRA
            # passes; the row reports the median of 3 and the spread,
            # so a contended pass is visible in the artifact instead
            # of masquerading as super-linearity. (This round's
            # interleaved probe measured 59.8/42.2/38.2 s = 7.7/5.4/
            # 4.9x — sub-linear on every pass.)
            _x97 = "x97_containment_pairs"
            if _x97 in sf10_t:
                try:
                    _reps = [sf10_t[_x97]]
                    for _ in range(2):
                        t0 = time.perf_counter()
                        queries[_x97].spark(spark, sf10_dir).count()
                        _reps.append(round(time.perf_counter() - t0, 4))
                    sf10_t[_x97] = sorted(_reps)[1]
                    sf10_x97_spread = [min(_reps), max(_reps)]
                except Exception as ex:  # noqa: BLE001
                    sf10_err[_x97 + "_repeats"] = (
                        f"{type(ex).__name__}: {ex}"[:300]
                    )
                    sf10_x97_spread = None
            else:
                sf10_x97_spread = None
            sf10 = {"queries": sf10_t}
            if sf10_x97_spread is not None:
                sf10["x97_spread"] = sf10_x97_spread
            if sf10_err:
                sf10["failed"] = sf10_err
            ratio_ops = [n for n in SF10_OPS if n in sf10_t]
            if all(n in sf1_q and sf1_q[n] for n in ratio_ops):
                sf10["vs_sf1_ratio"] = {
                    n: round(sf10_t[n] / sf1_q[n], 2) for n in ratio_ops
                }
            sf10["note"] = (
                "documents-only 100x upscale of sf0.1 (distinct affine "
                "alphabet permutation per copy); single timed pass "
                "after one sf1-scale warm — vs_sf1_ratio ~10 = linear"
            )
            detail["sf10"] = sf10
        except Exception as ex:  # never let the sf10 extra kill the bench
            detail["sf10"] = {"error": f"{type(ex).__name__}: {ex}"}

    # --- bloom-regime A/B (round 12): x138's claim is about the
    # regime where the eval gram-hash relation no longer broadcasts,
    # so the exact operator must SHUFFLE the full train gram stream.
    # No local fixture reaches that relation size, so the regime is
    # EMULATED by disabling the auto-broadcast threshold for the
    # exact path (its gram join becomes the shuffle join it would be
    # past the threshold) and timing both operators against the same
    # fixed 5k-doc eval set. The bloom path's word-table join keeps
    # its explicit broadcast() hint — hints override the disabled
    # threshold, exactly as they would on a cluster. Measured on the
    # sf10 upscale when available: at sf1 the exact path's ~8 GB gram
    # shuffle fits the OS page cache and the A/B collapses to noise
    # (1.07x measured hot vs 2.3x cold); sf10's ~80 GB shuffle is
    # cache-resistant, which is the property the regime actually has
    # at 100 TB. One pass each after the sf10 section's warms.
    _ab_dir = next(
        (
            d
            for d in (
                os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/spark_graft_sf10"),
                os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1"),
            )
            if os.path.isdir(d)
        ),
        None,
    )
    if os.environ.get("SPARK_GRAFT_BLOOM_AB", "1") != "0" and _ab_dir:
        try:
            from pyspark.sql import functions as F

            from csvb_spark.operators.splits import (
                contamination_check,
                contamination_check_bloom,
                sbbf_eval_filter,
                sbbf_gram_hits,
            )
            from csvb_spark.operators.text import char_shingles

            docs = spark.read.parquet(f"{_ab_dir}/documents.parquet")
            train = docs.filter(F.col("doc_id") % 10 != 0)
            evald = docs.filter(
                (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 100000)
            )
            old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                t0 = time.perf_counter()
                contamination_check(train, evald, k=8, min_shared=2).count()
                t_exact = round(time.perf_counter() - t0, 4)
                t0 = time.perf_counter()
                contamination_check_bloom(train, evald, k=8, min_shared=2).count()
                t_bloom = round(time.perf_counter() - t0, 4)
                # word-13 unit at the same scale (round 15, verdict
                # item 7): §6g's claim that the GPT-3 word rule is
                # CHEAPER per document than char-8 (w-12 word grams vs
                # c-7 char grams, ~5-6x fewer rows) was analytic only.
                # Same fixed eval suite — the realistic regime: eval
                # suites do not grow with the corpus.
                t0 = time.perf_counter()
                contamination_check(
                    train, evald, k=13, min_shared=1, unit="word"
                ).count()
                t_exact_w = round(time.perf_counter() - t0, 4)
                t0 = time.perf_counter()
                contamination_check_bloom(
                    train, evald, k=13, min_shared=1, unit="word"
                ).count()
                t_bloom_w = round(time.perf_counter() - t0, 4)
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
            # Wall-clock alone understates the regime on THIS machine:
            # 128 GiB of RAM means even the sf10 gram shuffle lives in
            # the OS page cache, so shuffle IO is ~free locally while
            # on a cluster it is network+disk. The hardware-independent
            # cost the prefilter removes is the SHUFFLE ROW COUNT —
            # measure it: total train grams vs grams surviving the
            # bloom (the only rows the bloom plan ever shuffles).
            n_total = (
                train.select(
                    F.size(char_shingles("text", 8)).alias("n")
                ).agg(F.sum("n")).collect()[0][0]
            )
            wdf, nw = sbbf_eval_filter(evald, k=8)
            n_surv = (
                sbbf_gram_hits(train, wdf, nw, k=8)
                .agg(F.sum("n_bloom_shared"))
                .collect()[0][0]
            ) or 0
            from csvb_spark.operators.text import word_grams_full

            n_total_w = (
                train.select(
                    F.size(word_grams_full("text", 13)).alias("n")
                ).agg(F.sum("n")).collect()[0][0]
            ) or 0
            detail["bloom_regime_ab"] = {
                "dir": _ab_dir,
                "exact_shuffle_join_sec": t_exact,
                "bloom_prefilter_sec": t_bloom,
                "speedup": round(t_exact / t_bloom, 2) if t_bloom else None,
                "word13": {
                    "exact_shuffle_join_sec": t_exact_w,
                    "bloom_prefilter_sec": t_bloom_w,
                    "train_word_grams": int(n_total_w),
                    "char_vs_word_gram_ratio": round(
                        n_total / n_total_w, 2
                    )
                    if n_total_w
                    else None,
                    "note": (
                        "GPT-3 word-13 rule (min_shared=1) on the "
                        "same train/eval split — the §6g volume-law "
                        "claim measured: fewer gram rows at every "
                        "stage than char-8"
                    ),
                },
                "train_grams": int(n_total),
                "grams_shuffled_after_prefilter": int(n_surv),
                "shuffle_rows_eliminated_pct": round(
                    100.0 * (1 - n_surv / n_total), 3
                )
                if n_total
                else None,
                "note": (
                    "upscaled train vs fixed 5k-doc eval with "
                    "auto-broadcast disabled — emulates the "
                    "past-broadcast-threshold regime x138 exists for; "
                    "local wall-clock is page-cache-bound, the "
                    "eliminated-shuffle-rows column is the "
                    "cluster-relevant cost"
                ),
            }
        except Exception as ex:  # never let the A/B extra kill the bench
            detail["bloom_regime_ab"] = {"error": f"{type(ex).__name__}: {ex}"}

    # --- curate capstone bench (round 14, verdict item 3): the
    # composed batch recipe (C4 → exact dedup → LSH near-dedup →
    # quality gate → leakage-safe splits) had correctness tests but no
    # bench entry at any scale, and its per-stage eager checkpoints
    # are exactly where a lineage-re-execution bug would hide (the
    # streaming bench caught one on its first run). Per-stage
    # wall-clock at the target sf + the sf1 upscale when available.
    spark = _section_boundary(spark, cpus)
    if os.environ.get("SPARK_GRAFT_CURATE", "1") != "0":
        try:
            cur = {"sf": _bench_curate(spark, sf_dir)}
            sf1_dir = os.environ.get(
                "SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1"
            )
            # honor the upscale's marker protocol (it records the
            # SOURCE dir): a bare isdir() would silently bench a
            # stale or partial sf1 build left by an earlier run
            # against a different SPARK_GRAFT_SF_DIR
            _sf1_marker = os.path.join(sf1_dir, "_BENCH_SF1_OK")
            if (
                os.path.exists(_sf1_marker)
                and open(_sf1_marker).read() == sf_dir
            ):
                try:
                    cur["sf1"] = _bench_curate(spark, sf1_dir)
                    if cur["sf"]["total_sec"]:
                        cur["sf1_vs_sf_ratio"] = round(
                            cur["sf1"]["total_sec"] / cur["sf"]["total_sec"], 2
                        )
                except Exception as ex:  # noqa: BLE001
                    cur["sf1"] = {"error": f"{type(ex).__name__}: {ex}"[:300]}
            cur["note"] = (
                "pipeline.curate end-to-end with LSH pairs_fn + "
                "leakage-safe splits; stage_sec from the eager "
                "per-stage checkpoints, so stages are true costs; "
                "sf1_vs_sf_ratio ~10 = linear"
            )
            detail["curate"] = cur
        except Exception as ex:  # never let the curate extra kill the bench
            detail["curate"] = {"error": f"{type(ex).__name__}: {ex}"}

    # --- federation bench (round 14, verdict item 9 stretch): the
    # federate path (SURVEY §2.A7-A14) has correctness + plan tests
    # but had zero perf evidence. Two in-process `serve` shards over
    # the sf orders table; measure (a) pushdown ON vs OFF — wall-clock
    # AND rows-moved, the hardware-independent column (the bloom
    # section's lesson: local wire IO is loopback-cheap, row counts
    # are what a real network pays), and (b) the within-shard
    # parallel-read speedup (num_partitions=4 vs 1).
    spark = _section_boundary(spark, cpus)
    if os.environ.get("SPARK_GRAFT_FED", "1") != "0":
        try:
            detail["federation"] = _bench_federation(spark, sf_dir)
        except Exception as ex:  # never let the fed extra kill the bench
            detail["federation"] = {"error": f"{type(ex).__name__}: {ex}"}

    # --- streaming ingest bench (round 13): the batch corpus is
    # benched at three scales above, but the streaming gate stack
    # (quality → LM fluency → decontamination → exact dedup →
    # cross-batch near-dup index) previously had only batch-
    # equivalence tests. Measure docs/sec through run_streaming_ingest
    # over the sf documents split into micro-batch files, three
    # CUMULATIVE configs so the per-gate cost is the delta between
    # adjacent rows: base (quality+dedup+index), +LM gate, +decontam
    # gate. Fresh dirs per config (checkpoints make re-runs no-ops).
    spark = _section_boundary(spark, cpus)
    if os.environ.get("SPARK_GRAFT_STREAM", "1") != "0":
        try:
            detail["streaming"] = _bench_streaming(spark, sf_dir)
        except Exception as ex:  # never let the stream extra kill the bench
            detail["streaming"] = {"error": f"{type(ex).__name__}: {ex}"}

    # Self-contained artifact rule (round 15, verdict item 2): the
    # driver machine-reads this process through a ~2 KB TAIL capture,
    # and in rounds 6 and 14 the detail line outgrew it, truncating
    # whole sections out of the committed BENCH_r{N}.json. The full
    # detail object (headline included, so the file stands alone) now
    # lands in a committed per-round file, overwritten each run;
    # stdout keeps the human-readable detail, then a short pointer,
    # then the compact machine-read line LAST — so the tail capture
    # always gets the pointer + headline intact, and every section is
    # retrievable verbatim from the repo regardless of capture size.
    detail["headline"] = out
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    print(json.dumps(detail))
    print(
        json.dumps(
            {"detail_file": "BENCH_DETAIL.json", "sections": sorted(detail)}
        )
    )
    print(json.dumps(out))


# post-baseline operator passes timed outside the legacy
# BASELINE-comparable sum (round 7 promoted the model-filter scorers;
# round 8 adds the CCNet bucket cut and the containment index —
# constant factors get watched the way x84's were, which is how the
# quadratic HOF-lambda bug was caught)
MODEL_OPS = frozenset(
    {
        "x64_linear_classifier",
        "x84_bigram_perplexity",
        "x86_token_drift",
        "x89_kneser_ney_perplexity",
        "x90_weighted_sample",
        "x93_stupid_backoff_trigram",
        "x95_perplexity_buckets",
        "x97_containment_pairs",
        # round 8, second session: the fourth smoothing family joins
        # its siblings under the constant-factor watch
        "x110_jm_perplexity",
        # round 10: DSIR importance weights (two corpus passes + a
        # broadcast score join — watch the constant factor)
        "x131_dsir_importance",
    }
)

# the heaviest corpus ops (all documents-only, so the sf10 build ships
# one table): the r11 trio plus — per verdict r11 item 6 — the banded
# dedup flagships, the family most at risk of quadratic candidate-pair
# blowups at scale (the affine per-copy permutation keeps cross-copy
# shingle sharing ~zero, so a linear crawl-like growth is the right
# yardstick). The near-dedup slot is x137 (LSH candidates), NOT
# p21/x40 (exact blocked all-pairs): timing p21 here is what CAUGHT
# its quadratic block join OOMing at 500k docs — that variant is the
# small-scale oracle tool, x137 is the pipeline's scale path (see the
# x137 entry docstring).
SF10_OPS = (
    "x95_perplexity_buckets",
    "x97_containment_pairs",
    "x131_dsir_importance",
    "p09_dedup_minhash_lsh",
    "x137_near_dedup_lsh",
    # round 12, second session: the Bloom-prefiltered decontamination
    # scale path — the op exists FOR this regime (map-side bitmap
    # filter instead of shuffling the full train gram stream), so it
    # earns the sf10 slot that proves the claim
    "x138_contamination_bloom",
    # round 13: the retrieval family joins the watch — BM25's cost
    # law (posting explode + broadcast idf stats + top-k) should stay
    # scan-bound; probe measured 1.86x at 10x data (sub-linear)
    "x55_bm25_topk",
    # round 14 (verdict item 4): the LM scorer family past sf1 — all
    # four smoothings share the auto-broadcast + salted-fallback
    # machinery but only the bigram path had ever been scaled past
    # sf1. Kneser-Ney's continuation-count statistics are the most
    # shuffle-prone (distinct-bigram aggregates per context), stupid
    # backoff carries the deepest model (four count tiers).
    "x89_kneser_ney_perplexity",
    "x93_stupid_backoff_trigram",
    # round 15 (verdict item 7): DoReMi runs TWO full bigram-LM
    # train+score chains (proxy on the raw corpus, reference on the
    # target slice) plus one fixed-width domain aggregate — the
    # heaviest composition in the LM family, scale-measured like its
    # KN/SB constituents (both sub-linear at sf10 in round 14). The
    # word-13 decontamination unit is scale-measured separately in
    # the bloom-regime A/B (fixed eval suite — its realistic regime).
    "x142_doremi_domain_weights",
    # round 15: the KMV sketch family's whole reason to exist is the
    # no-shuffle cost law (per-partition k-min partials + a
    # TakeOrderedAndProject merge over partitions*k candidates) — the
    # sf10 row proves the distinct-count estimate stays scan-bound
    # while exact DISTINCT's shuffle grows with the corpus
    "x146_kmv_distinct_shingles",
)


def _ensure_sf10_docs(spark, src_dir: str, dst_dir: str) -> None:
    """Materialize the documents-only sf10 dataset once: 100 copies of
    sf0.1 documents, doc_id shifted by copy*10M, text run through a
    copy-specific AFFINE alphabet permutation (a coprime to 26) so all
    100 copies carry distinct permutations — near-dup structure intact
    within a copy, ~zero shingle sharing across copies."""
    import string
    from functools import reduce

    from pyspark.sql import DataFrame, functions as F

    marker = os.path.join(dst_dir, "_BENCH_SF10_OK")
    if os.path.exists(marker) and open(marker).read() == src_dir:
        return
    lo = string.ascii_lowercase
    df = spark.read.parquet(f"{src_dir}/documents.parquet")
    copies = []
    for k in range(100):
        a, b = (1, 3, 5, 7)[k // 26], k % 26
        perm = "".join(lo[(a * i + b) % 26] for i in range(26))
        cp = df.withColumn(
            "doc_id", F.col("doc_id") + F.lit(k * 10_000_000)
        )
        if k:
            cp = cp.withColumn(
                "text",
                F.translate(
                    F.col("text"), lo + lo.upper(), perm + perm.upper()
                ),
            )
        copies.append(cp)
    reduce(DataFrame.union, copies).coalesce(32).write.mode(
        "overwrite"
    ).parquet(f"{dst_dir}/documents.parquet")
    with open(marker, "w") as fh:
        fh.write(src_dir)


# ten key-shifted copies per fact table; dims stay one copy
_SF1_SHIFT_COLS: dict[str, list[str] | None] = {
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "nation": None,
    "region": None,
}


def _ensure_sf1(spark, src_dir: str, dst_dir: str) -> None:
    """Materialize the synthetic sf1 dataset once; the key shift
    (copy_index * 10_000_000, far above any sf0.1 key) keeps every
    foreign-key join consistent within a copy, so join cardinalities
    scale linearly like a real 10x corpus."""
    marker = os.path.join(dst_dir, "_BENCH_SF1_OK")
    # the marker records the SOURCE dir so a changed SPARK_GRAFT_SF_DIR
    # regenerates instead of silently benchmarking a stale upscale
    if os.path.exists(marker) and open(marker).read() == src_dir:
        return
    from pyspark.sql import functions as F

    shift = 10_000_000
    for t, cols in _SF1_SHIFT_COLS.items():
        df = spark.read.parquet(f"{src_dir}/{t}.parquet")
        if cols is None:
            outdf = df
        else:
            import string

            lo, up = string.ascii_lowercase, string.ascii_uppercase
            copies = []
            for c in range(10):
                cp = df
                for col in cols:
                    cp = cp.withColumn(col, F.col(col) + F.lit(c * shift))
                if t == "documents" and c:
                    # rotate the alphabet per copy: ten verbatim copies
                    # of every text would multiply dup-CLUSTER SIZE by
                    # 10 (candidate pairs by ~100 — quadratic, and not
                    # how corpora grow); rotation keeps each copy's
                    # near-dup structure intact while cross-copy texts
                    # share almost no shingles, so dedup work scales
                    # linearly like a real 10x crawl
                    r = c % 26
                    cp = cp.withColumn(
                        "text",
                        F.translate(
                            F.col("text"),
                            lo + up,
                            lo[r:] + lo[:r] + up[r:] + up[:r],
                        ),
                    )
                copies.append(cp)
            outdf = copies[0]
            for cp in copies[1:]:
                outdf = outdf.union(cp)
        outdf.write.mode("overwrite").parquet(f"{dst_dir}/{t}.parquet")
    with open(marker, "w") as fh:
        fh.write(src_dir)


def _bench_curate(spark, sf_dir: str) -> dict:
    """One end-to-end curate() pass over the sf documents with the
    scale-path configuration (MinHash-LSH pairs, longest-member
    keeper, leakage-safe splits). Per-stage seconds come from the
    recipe's own eager checkpoints via ``stage_seconds``."""
    from csvb_spark.operators.dedup import minhash_lsh_pairs
    from csvb_spark.operators.pipeline import curate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_in = docs.count()
    stage_sec: dict[str, float] = {}
    t0 = time.perf_counter()
    # require_terminal=False: the synthetic fixture's texts carry no
    # sentence punctuation, so C4's terminal rule would annihilate the
    # corpus at stage 1 and every later stage would time an empty
    # frame. The stage still pays its real cost (line split + word
    # count + blocklist scan per line).
    curated, report = curate(
        docs,
        c4_kwargs={"require_terminal": False},
        pairs_fn=minhash_lsh_pairs,
        keep="longest",
        splits={"train": 0.98, "val": 0.01, "test": 0.01},
        leakage_safe=True,
        stage_seconds=stage_sec,
    )
    n_out = curated.count()  # checkpointed upstream — counts, no recompute
    total = round(time.perf_counter() - t0, 4)
    retention = {
        r["stage"]: [r["n_in"], r["n_out"]] for r in report.collect()
    }
    return {
        "total_sec": total,
        "stage_sec": stage_sec,
        "retention": retention,
        "docs_in": n_in,
        "docs_out": n_out,
    }


def _bench_federation(spark, sf_dir: str) -> dict:
    """Two pgwire `serve` shards (half the sf orders each); time a
    selective two-column probe with pushdown compiled into the shard
    SQL vs the same answer computed by shipping the whole table, and a
    full-shard pull at 1 vs 4 within-shard partitions. The pgwire
    transport is the reference's primary federation topology (csvb
    serve instances federating each other).

    Round 15 (verdict item 8): the shards are SEPARATE `csvb serve`
    PROCESSES (own JVM each), spawned through the CLI exactly as a
    user would run them — round 14's in-process newSession() shards
    shared one FIFO local[32] JVM with the gather session, so the
    4-way within-shard parallel read measured 0.94x (the slices
    queued shard-side). Independent shard hosts are what the
    num_partitions option exists for; this topology is the honest
    small-scale model of it."""
    import re
    import shutil
    import subprocess
    import sys as _sys
    import tempfile

    from csvb_spark.sources.federation import read_shard_pg

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_total = orders.count()
    n_cols = len(orders.columns)
    root = tempfile.mkdtemp(prefix="spark_graft_fed_")
    procs: list = []
    try:
        # split shards on o_custkey so o_orderkey (the within-shard
        # partition column below) stays dense in BOTH shards —
        # splitting on o_orderkey itself would leave half the
        # mod-slices empty
        shard_paths = []
        for par in (0, 1):
            pth = os.path.join(root, f"shard{par}")
            orders.filter(f"o_custkey % 2 = {par}").coalesce(4).write.parquet(
                pth
            )
            shard_paths.append(pth)
        repo = os.path.dirname(os.path.abspath(__file__))
        for pth in shard_paths:
            procs.append(
                subprocess.Popen(
                    [
                        _sys.executable,
                        "-m",
                        "csvb_spark.cli",
                        "serve",
                        "--parquet",
                        pth,
                        "--table-name",
                        "orders",
                        "127.0.0.1:0",
                    ],
                    stdout=subprocess.PIPE,
                    stderr=subprocess.DEVNULL,
                    text=True,
                    cwd=repo,
                )
            )
        import threading

        def _read_announce(proc, out: list) -> None:
            for line in proc.stdout:
                m = re.search(r"pgwire listening on ([\d.]+):(\d+)", line)
                if m:
                    out.append(
                        f"postgresql://bench@{m.group(1)}:{m.group(2)}/db"
                    )
                    break
            # keep draining after the announce: stdout is a PIPE, and
            # a shard that later logs >~64KB would block on a full
            # pipe buffer mid-query with no timeout guarding it (the
            # daemon thread dies with the bench process)
            for _ in proc.stdout:
                pass

        addrs = []
        for proc in procs:  # both JVMs boot in parallel; then read
            got: list = []
            # a shard JVM that boots but never binds would otherwise
            # hang the whole bench on this blocking read — deadline it
            th = threading.Thread(
                target=_read_announce, args=(proc, got), daemon=True
            )
            th.start()
            th.join(timeout=180)
            if not got:
                raise RuntimeError(
                    "shard serve process did not announce its port "
                    "within 180s (exited or hung during JVM boot)"
                )
            addrs.append(got[0])
        pred = "o_orderkey % 100 = 0"  # ~1% selectivity
        cols = ["o_orderkey", "o_totalprice"]

        def gather(**kw):
            from functools import reduce

            from pyspark.sql import DataFrame

            return reduce(
                DataFrame.union,
                [read_shard_pg(spark, a, "orders", **kw) for a in addrs],
            )

        def timed(mk):
            # one untimed warm pass (probe round trips, plan compile,
            # codegen — the same reason the headline suite warms at
            # the target SF), then one timed pass
            mk().count()
            t0 = time.perf_counter()
            n = mk().count()
            return n, round(time.perf_counter() - t0, 4)

        # pushdown ON: predicate + projection compiled into shard SQL
        n_hit, t_push = timed(lambda: gather(columns=cols, predicate=pred))
        # pushdown OFF: ship every row/column, filter gather-side
        n_hit2, t_full = timed(
            lambda: gather().filter(pred).selectExpr(*cols)
        )
        assert n_hit == n_hit2, (n_hit, n_hit2)

        # within-shard parallel read: one shard, full pull, 1 vs 4 tasks
        n_one, t_serial = timed(
            lambda: read_shard_pg(spark, addrs[0], "orders")
        )
        n_par, t_par = timed(
            lambda: read_shard_pg(
                spark,
                addrs[0],
                "orders",
                partition_column="o_orderkey",
                num_partitions=4,
            )
        )
        assert n_one == n_par, (n_one, n_par)
        return {
            "shards": 2,
            "orders_rows": n_total,
            "pushdown": {
                "rows_returned": n_hit,
                "sec_pushdown_on": t_push,
                "sec_pushdown_off": t_full,
                "speedup": round(t_full / t_push, 2) if t_push else None,
                "cells_moved_on": n_hit * len(cols),
                "cells_moved_off": n_total * n_cols,
                "cells_eliminated_pct": round(
                    100.0 * (1 - (n_hit * len(cols)) / (n_total * n_cols)), 3
                ),
            },
            "parallel_read": {
                "shard_rows": n_one,
                "sec_1_task": t_serial,
                "sec_4_tasks": t_par,
                "speedup": round(t_serial / t_par, 2) if t_par else None,
                "note": (
                    "4 bounds-informed range slices against ONE "
                    "shard process (own JVM, FAIR scheduler). "
                    "Measured ~0.9x even cross-process (round 15): "
                    "the gather-side decode parallelizes across 4 "
                    "executor workers, but this shard's pgwire TEXT "
                    "ENCODE is pure Python — 4 handler threads share "
                    "one GIL, so the dominant serialize cost does "
                    "not divide. Against a native shard (real "
                    "Postgres, or any server whose encode "
                    "parallelizes) the N-way split divides "
                    "wire+encode+decode, which is what the option "
                    "exists for."
                ),
            },
            "note": (
                "two SEPARATE `csvb serve` shard processes (own JVM "
                "each) over half the sf orders each; cells = rows x "
                "cols crossing the wire — the network-cost column "
                "(loopback wall-clock understates a real cluster's "
                "win)"
            ),
        }
    finally:
        for proc in procs:
            proc.terminate()
        for proc in procs:
            try:
                proc.wait(timeout=15)
            except Exception:
                proc.kill()
        shutil.rmtree(root, ignore_errors=True)


def _bench_streaming(spark, sf_dir: str) -> dict:
    """Time the full streaming-ingest gate stack end-to-end.

    The source is the sf documents table split into
    ``SPARK_GRAFT_STREAM_FILES`` parquet files (one micro-batch each —
    files model arrival order, same as the ingest tests). Three runs,
    each adding one model gate, so ``sec[i+1] - sec[i]`` is that
    gate's cost over the whole stream. The LM model and the decontam
    eval suite are built ONCE outside the timed region — exactly how
    a production stream amortizes them (models load at stream start,
    not per batch)."""
    import shutil
    import tempfile
    import time as _t

    from csvb_spark.operators.lm import bigram_lm_train
    from csvb_spark.streaming.ingest import run_streaming_ingest

    n_files = int(os.environ.get("SPARK_GRAFT_STREAM_FILES", "8"))
    root = tempfile.mkdtemp(prefix="spark_graft_stream_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_docs = docs.count()
        src = os.path.join(root, "src")
        from pyspark.sql import functions as F

        # file i holds exactly the docs with pmod(doc_id, n_files) = i,
        # written in order: every run streams the same batches in the
        # same order, so the gates accept the same documents
        for i in range(n_files):
            docs.filter(F.pmod("doc_id", F.lit(n_files)) == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        # model + eval-suite builds: amortized, OUTSIDE the timed runs
        lm_dir = os.path.join(root, "lm_model")
        bigram_lm_train(docs).write.parquet(lm_dir)
        ev_dir = os.path.join(root, "eval")
        docs.filter(F.col("doc_id") % 50 == 0).write.parquet(ev_dir)

        # untimed warm stream (round 14): the FIRST foreachBatch run
        # of a session pays streaming-machinery init + codegen that
        # otherwise lands entirely on config 1 and corrupts the
        # per-gate deltas (observed: base measured 98 s vs 73 s for
        # base+LM — a negative gate cost). A small 2-batch stream
        # absorbs it outside the timed region.
        warm_src = os.path.join(root, "warm_src")
        docs.limit(200).repartition(2).write.parquet(warm_src)
        wdir = os.path.join(root, "warm")
        run_streaming_ingest(
            spark,
            warm_src,
            os.path.join(wdir, "corpus"),
            os.path.join(wdir, "index"),
            os.path.join(wdir, "ckpt"),
            query_name="bench_stream_warm",
        )

        configs: list[tuple[str, dict]] = [
            ("base_quality_dedup", {}),
            ("plus_lm_gate", {"lm_model_dir": lm_dir, "max_ppl": 1e9}),
            # decontam threshold deliberately high: the gate's COST is
            # the shingle + Bloom-probe + aggregation work, identical
            # at every threshold (the accept decision is one column
            # filter). A strict threshold on this synthetic corpus
            # rejects nearly everything (docs share a median ~122
            # 8-grams with the suite union — suite-wide counting, see
            # run_streaming_ingest docstring), which would empty the
            # downstream dedup/index stages and corrupt the cost
            # split. High threshold = full probe cost, comparable
            # downstream volume.
            (
                "plus_decontam_gate",
                {
                    "lm_model_dir": lm_dir,
                    "max_ppl": 1e9,
                    "decontam_eval_dir": ev_dir,
                    "decontam_min_shared": 1_000_000,
                },
            ),
        ]
        rows: dict[str, dict] = {}
        prev_sec: float | None = None
        accepts: list[int] = []
        for name, kw in configs:
            cdir = os.path.join(root, name)
            # per-config guard (the sf10 lesson): one config dying must
            # be RECORDED, not erase the other configs' measurements
            timers: dict[str, list[float]] = {}
            try:
                t0 = _t.perf_counter()
                run_streaming_ingest(
                    spark,
                    src,
                    os.path.join(cdir, "corpus"),
                    os.path.join(cdir, "index"),
                    os.path.join(cdir, "ckpt"),
                    query_name=f"bench_{name}",
                    gate_timers=timers,
                    **kw,
                )
                sec = round(_t.perf_counter() - t0, 4)
            except Exception as ex:  # noqa: BLE001
                rows[name] = {"error": f"{type(ex).__name__}: {ex}"[:300]}
                prev_sec = None  # next delta would mix configs
                continue
            corpus_out = os.path.join(cdir, "corpus")
            accepted = (
                spark.read.parquet(corpus_out).count()
                if os.path.isdir(corpus_out)
                else 0
            )
            accepts.append(accepted)
            rows[name] = {
                "sec": sec,
                "docs_per_sec": round(n_docs / sec, 1),
                "accepted": accepted,
                # round 15 (verdict item 3): DIRECT per-gate cost via
                # gate_timers — each gate's keep-set materialization is
                # timed inside _gate_chain, summed over micro-batches,
                # with the per-batch min/max as the recorded spread.
                # Non-negative by construction, unlike the r14 artifact
                # where gate_delta_sec (a difference of single
                # cumulative whole-stream runs) recorded an LM gate at
                # −8.5 s on host noise.
                "gate_sec": {
                    g: {
                        "total": round(sum(v), 4),
                        "per_batch_min": min(v),
                        "per_batch_max": max(v),
                        "batches": len(v),
                    }
                    for g, v in sorted(timers.items())
                },
            }
            if prev_sec is not None:
                rows[name]["gate_delta_sec"] = round(sec - prev_sec, 4)
            prev_sec = sec
        return {
            "docs": n_docs,
            "micro_batches": n_files,
            "configs": rows,
            # permissive thresholds (max_ppl=1e9, min_shared=1e6) make
            # every gate accept-all, so all configs must admit the
            # SAME corpus — the instrumentation-changes-nothing check
            "accepts_identical": len(set(accepts)) <= 1,
            "note": (
                "cumulative gate stack over one-file micro-batches; "
                "gate_sec = direct per-gate scoring cost (timed "
                "keep-set materialization, summed over batches, "
                "per-batch spread recorded); gate_delta_sec kept for "
                "cross-round continuity but noise-dominated — read "
                "gate_sec; LM model + eval SBBF built outside the "
                "timed region (amortized at stream start, like "
                "production)"
            ),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
