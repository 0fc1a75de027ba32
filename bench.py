"""Engine benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1, "probe": {...}, "exc_n": N}

Each query is timed end-to-end (plan + execute) against the noop sink,
so the number is full pipeline cost without driver-collect overhead.

Round-7 noise guard (VERDICT r6 "what's missing" #1/#2): the round-6
absolutes were contaminated by host time-sharing that was only
discovered by a manual CPU probe after the fact, and the bench log's
tail showed a truncated executor stack trace nobody could diagnose.
Both are now built in:

- bench.py re-executes itself as a CHILD process with stderr (where
  Spark's log4j writes) teed to bench_spark_log.txt; after the run the
  PARENT greps the full log for exception frames and records
  count + first frame (exc_n on the stdout line, detail in
  bench_secondary.json).  rc is propagated.
- the parent measures a deterministic CPU probe (single-thread sha256
  wall + 32-way parallel efficiency) BEFORE and AFTER the child run
  and embeds both in the JSON, so a throttled host is visible in the
  artifact itself instead of requiring after-the-fact archaeology.
- per-query dispersion of the 3 back-to-back runs (max/min ratio) is
  recorded: disp_med/disp_max in bench_secondary.json (they rode the
  stdout line until round 9, when the paired array took the space),
  with the full per-query run lists alongside.

Round-9 addition (VERDICT r8 next-1): in-run PAIRED CALIBRATION — see
the comment at YARDSTICK below.  The stdout line gains "paired"
(int(ratio·100) per headliner, HEADLINE order), "yard" (the yardstick's
best wall) and "value_paired" (Σ ratios); cross-round comparisons of
unchanged queries should read ≈flat in "paired" even when raw walls
drift 2× with host tenancy.

Round-8 additions (VERDICT r7 next-1/next-2): the probe now GATES the
run instead of only annotating it — the parent retries the full bench
up to $SPARK_BENCH_ATTEMPTS (default 3) times, keeps the attempt whose
bracketing probes show the quietest host, and stops early once an
attempt's min(eff0, eff1) clears $SPARK_BENCH_EFF_GATE (default 0.85).
Retries only START while $SPARK_BENCH_BUDGET_SEC (default 900) of wall
remains, and a COMPLETE best-so-far artifact line (+ sidecar + log) is
emitted after EVERY attempt — the driver parses the final stdout line,
so a driver-side kill mid-retry still leaves a full, parseable record
from the last finished attempt.  Selection: a gate-clearing attempt
wins outright; otherwise the fastest wall (noise only ever inflates).
The artifact records probe.best_of / probe.max_eff / probe.clean, so a
session that never saw a quiet window is self-documenting.  The log
grep now CLASSIFIES frames ({n, classes, benign, first} on the stdout
line): the known-benign ContextCleaner accumulator race is named in
the artifact itself, and any unknown class flips benign=false.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_REPO = os.path.dirname(os.path.abspath(__file__))

# Representative spread: scan+agg, star join, windows, CDC apply,
# dedup, similarity, text — the operators that dominate real pipelines.
# Round 2 adds the heavy hitters of the newly driver-verified set
# (percentile, pivot, tf-idf, global sort, Q2 shape, md5 minhash) so
# round-over-round regressions there are visible.
HEADLINE = [
    "q_pricing_summary",
    "q_star_join",
    "q_group_agg",
    "q_join_inner",
    "q_topk",
    "q_window_running_sum",
    "q_upsert_latest_wins",
    "q_asof_join",
    "q_sessionize",
    "q_dedup_exact",
    "q_dedup_near_minhash",
    "q_sim_topk",
    "q_text_tokens",
    "q_udf_map_in_pandas",
    "q_percentile",
    "q_pivot",
    "q_text_tfidf",
    "q_sort_multi",
    "q_min_cost_supplier",
    "q_dedup_minhash_md5",
    "q_market_share",
    "q_lm_score",
    "q_chunk_documents",
    # round-3 additions: iterative clustering, PQ-ADC search, segment
    # dedup, and graph-on-facts — the heaviest new plan shapes
    "q_kmeans_assign",
    "q_sim_pq_search",
    "q_dedup_segments",
    "q_pagerank",
    # session-4 additions: runtime-bloom-pruned join, recursive-CTE
    # traversal, and the one-scan DQ rule suite
    "q_bloom_prune_join",
    "q_reachability",
    "q_dq_expectations",
    # session-6 additions: BM25 retrieval, containment dedup, and the
    # time-series subsequence search — the new data-scaled shapes
    "q_bm25_search",
    "q_dedup_containment",
    "q_ts_similarity",
    # round-4 additions (appended — earlier prefixes stay comparable)
    "q_dedup_spans",
    "q_mixture_temperature",
    # pre-aggregated grouping-sets decomposition (functions/grouping.py)
    "q_rollup",
    "q_grouping_sets",
    # round-4 perf rewrites found by the full-registry sf0.1 scan:
    # shingle-set AllPairs (150s -> 2.7s) and the Arrow LSH signature
    # matmul (6.6s -> 1.0s) — benched so regressions stay visible
    "q_setsim_join",
    "q_sim_topk_lsh",
    # round-5 additions: the new data-scaled shapes (top-K vocabulary
    # + broadcast-back coverage, struct-min OHLC, positional-delete
    # anti-join, contingency chi-square)
    "q_vocab_coverage",
    "q_ohlc_bars",
    "q_delete_vector_apply",
    "q_chi2_independence",
    # round-6 additions: hybrid retrieval fusion (3 rank windows over
    # token-set joins), rank-statistic AUC (parallel prefix sum), and
    # the mapInPandas partial-Gram PCA — the new data-scaled shapes
    "q_hybrid_rrf",
    "q_retrieval_auc",
    "q_pca_project",
    # round-12 additions (VERDICT r11 next-3): the post-r6 heavies the
    # sf10 probe ranked most expensive — appended at the END so every
    # earlier prefix stays round-over-round comparable (r3 precedent)
    "q_er_resolve",
    "q_item_cf",
    "q_hits",
    "q_link_prediction",
    "q_negative_sampling",
]

# In-run paired calibration (VERDICT r8 next-1): the host's tenancy
# swings 2× between rounds, so cross-round ABSOLUTES compare host
# noise, not engine changes.  The yardstick — q_pricing_summary, the
# same plan since round 1 — is re-timed immediately BEFORE each
# headliner's back-to-back block (and once after the last), and every
# headliner is also recorded as a RATIO to the min of its two
# bracketing yardstick samples.  Numerator and denominator ride the
# same tenancy window, so the ratio is flat across rounds for
# unchanged queries even when raw walls drift 2×.  On the artifact
# line: "paired" = int(ratio·100) per headliner in HEADLINE order
# (aligned with the "queries" keys), "yard" = the yardstick's own
# best wall, "value_paired" = Σ ratios (total in yardstick units —
# the noise-immune twin of "value").  Full-precision per-query ratios
# and the raw yardstick sample list live in bench_secondary.json.
YARDSTICK = "q_pricing_summary"

# ------------------------- CPU noise probe -------------------------

_PROBE_BLOCK = b"\x5a" * 65536
_PROBE_ITERS = 3000  # ~190 MB of sha256: ~0.1-0.2 s on an unloaded core


def _probe_work(_arg: int = 0) -> float:
    """Deterministic CPU-bound unit of work; returns its own wall."""
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(_PROBE_ITERS):
        h.update(_PROBE_BLOCK)
    h.digest()
    return time.perf_counter() - t0


def _cpu_probe(nproc: int) -> dict:
    """Single-thread wall (min of 3) + nproc-way parallel efficiency
    (ideal: nproc identical workers finish in single-thread wall on an
    unloaded nproc-core host; eff = single / parallel_wall)."""
    single = min(_probe_work() for _ in range(3))
    ctx = multiprocessing.get_context("spawn")
    t0 = time.perf_counter()
    with ctx.Pool(nproc) as pool:
        # warm the pool first so spawn/import cost isn't in the wall
        pool.map(int, range(nproc))
        t0 = time.perf_counter()
        pool.map(_probe_work, range(nproc))
        par_wall = time.perf_counter() - t0
    return {
        "single_ms": round(single * 1000, 1),
        "par_wall_ms": round(par_wall * 1000, 1),
        "par_eff": round(single / par_wall, 3) if par_wall > 0 else None,
        "nproc": nproc,
    }


# --------------------- parent: tee log, grep exceptions ---------------------

# artifact dir: default = repo root (the driver's contract); off-scale
# runs redirect it — either explicitly via SPARK_BENCH_OUT_DIR or
# automatically when --sf-dir is passed without it (main() rebinds
# these three and defaults the env var to a tmp dir, r12) — so an sf1
# bench can never clobber the committed sf0.1 sidecar/log
_OUT_DIR = os.environ.get("SPARK_BENCH_OUT_DIR", _REPO)
_LOG_PATH = os.path.join(_OUT_DIR, "bench_spark_log.txt")
_SIDECAR = os.path.join(_OUT_DIR, "bench_secondary.json")

# Known exception classes (VERDICT r7 missing-2: the artifact must
# carry the classification, not just a bare count).  First match wins;
# anything unmatched falls through to the raw exception-class token so
# a NEW failure mode is never silently lumped with a known-benign one.
_EXC_KNOWN: list[tuple[str, str, bool]] = [
    # (substring, class slug, benign?)
    (
        "non-existent accumulator",
        "contextcleaner_accum_race",
        True,  # SPARK-…: ContextCleaner unregisters a localCheckpoint
        # accumulator while a speculative/straggler task update is in
        # flight; the task itself already succeeded.  Diagnosed r7
        # (SCALE.md): zero effect on results or timing.
    ),
    ("Failed to update accumulator", "contextcleaner_accum_race", True),
]


def _scan_log(path: str) -> dict:
    """Count + CLASSIFY exception/ERROR frames in the captured Spark
    log; keep the first frame so a r6-style truncated-trace mystery
    can't recur.  Returns {count, first, classes: {slug: n},
    benign: bool} — benign only when every counted frame matched a
    known-benign class."""
    import re

    pat = re.compile(
        r"(^\s*(Caused by: )?[\w.]*(Exception|Error)(:|$))|(\bERROR\b)"
    )
    cls_tok = re.compile(r"([\w.]*\.)?(\w*(?:Exception|Error))")
    count = 0
    first = None
    classes: dict[str, int] = {}
    bad = 0  # frames that are unmatched OR matched a known-HARMFUL class
    try:
        with open(path, "r", errors="replace") as f:
            for line in f:
                if not pat.search(line):
                    continue
                count += 1
                if first is None:
                    first = line.strip()[:300]
                for sub, name, known_benign in _EXC_KNOWN:
                    if sub in line:
                        slug = name
                        if not known_benign:
                            bad += 1
                        break
                else:
                    m = cls_tok.search(line)
                    slug = m.group(2) if m else "unclassified"
                    bad += 1
                classes[slug] = classes.get(slug, 0) + 1
    except OSError:
        pass
    return {
        "count": count,
        "first": first,
        "classes": classes,
        # true iff nothing harmful: every counted frame (possibly zero
        # of them) matched a known-BENIGN class — a known-but-harmful
        # entry in _EXC_KNOWN flips this too (review-caught: the
        # per-class benign flag was previously never read)
        "benign": bad == 0,
    }


def _run_attempt(attempt: int, nproc: int, have_best: bool = False) -> dict | None:
    """One full child bench run bracketed by CPU probes.  Returns the
    attempt record.  A FIRST-attempt child failure exits the process
    (a failing bench with no result in hand is a bug, never host noise
    — retrying would mask it); a RETRY failure with a good attempt
    already selected returns None instead, so a transient crash on
    attempt 2+ can't discard an artifact we already have (ADVICE r8 —
    the caller logs it, keeps best-so-far, and exits 0)."""
    log_path = f"{_LOG_PATH}.attempt{attempt}"
    probe_before = _cpu_probe(nproc)
    env = dict(os.environ, SPARK_BENCH_CHILD="1")
    with open(log_path, "wb") as logf:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            stdout=subprocess.PIPE,
            stderr=logf,
        )
    probe_after = _cpu_probe(nproc)
    out_lines = proc.stdout.decode(errors="replace").strip().splitlines()
    if proc.returncode != 0 or not out_lines:
        # surface the log tail for the driver's rc!=0 capture
        try:
            with open(log_path, "r", errors="replace") as f:
                sys.stderr.write(f.read()[-3000:])
        except OSError:
            pass
        if have_best:
            # clean the failed retry's log (the kept attempt's log is
            # already committed via _emit); on a FATAL first-attempt
            # failure the log stays on disk for post-mortem
            try:
                os.remove(log_path)
            except OSError:
                pass
            sys.stderr.write(
                f"\nbench: retry attempt {attempt} failed "
                f"(rc={proc.returncode}); keeping best-so-far artifact\n"
            )
            return None
        sys.exit(proc.returncode or 1)
    effs = [e for e in (probe_before["par_eff"], probe_after["par_eff"]) if e]
    sec_path = _SIDECAR
    try:
        with open(sec_path) as f:
            sidecar = json.load(f)
    except (OSError, ValueError):
        sidecar = {}
    return {
        "obj": json.loads(out_lines[-1]),
        "probe_before": probe_before,
        "probe_after": probe_after,
        # an attempt is only as quiet as its dirtiest bracket probe
        "eff": min(effs) if effs else 0.0,
        "exc": _scan_log(log_path),
        "log_path": log_path,
        "sidecar": sidecar,
    }


def _select_attempt(attempts: list[dict], gate: float) -> dict:
    """A gate-clearing attempt wins outright (quiet host = comparable
    absolute).  When NO attempt is clean, keep the FASTEST total —
    co-tenant noise can only inflate wall time, never deflate it, so
    min(value) is the least-contaminated sample (measured: the boundary
    probes rank attempts differently from their walls because they
    sample only the brackets, not the run)."""
    clean = [r for r in attempts if r["eff"] >= gate]
    if clean:
        return clean[0]
    # explicit None check: a falsy-but-valid 0.0 wall must still be
    # selectable (ADVICE r8 — `or float("inf")` treated it as missing)
    def _wall(r: dict) -> float:
        v = r["obj"].get("value")
        return float("inf") if v is None else v

    return min(attempts, key=_wall)


def _parent() -> None:
    nproc = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Probe-gated retries (VERDICT r7 next-1): a time-shared host reads
    # ~0.5 parallel efficiency and contaminates every absolute.  Run up
    # to SPARK_BENCH_ATTEMPTS full bench passes, keep the one whose
    # bracketing probes show the quietest host, stop early the moment
    # an attempt clears the gate.  The artifact records best_of/max_eff
    # /clean so a never-quiet session is self-documenting.
    gate = float(os.environ.get("SPARK_BENCH_EFF_GATE", "0.85"))
    max_attempts = max(1, int(os.environ.get("SPARK_BENCH_ATTEMPTS", "3")))
    # total wall budget: a retry may only START while budget remains,
    # sized so the driver's own timeout can never catch us mid-retry
    # with a result already in hand (attempt 1 always runs)
    budget = float(os.environ.get("SPARK_BENCH_BUDGET_SEC", "900"))
    t_start = time.monotonic()
    attempts: list[dict] = []
    for i in range(max_attempts):
        if i > 0:
            elapsed = time.monotonic() - t_start
            # a retry costs ~one attempt-1 wall; don't start one we
            # can't comfortably afford
            if elapsed + 1.2 * attempt_wall > budget:
                break
            # brief settle between attempts: co-tenant bursts are often
            # shorter than a bench pass; probing is ~100× cheaper than
            # re-running, so wait for a quieter window before paying
            deadline = time.monotonic() + 60
            while time.monotonic() < deadline:
                if (_cpu_probe(nproc)["par_eff"] or 0) >= gate:
                    break
                time.sleep(10)
        t_att = time.monotonic()
        rec = _run_attempt(i, nproc, have_best=bool(attempts))
        attempt_wall = time.monotonic() - t_att
        if rec is None:
            # transient retry failure with a good artifact in hand:
            # stop retrying, keep what we have (already emitted)
            break
        attempts.append(rec)
        # Timeout-proofing: emit a COMPLETE best-so-far artifact line
        # (and matching sidecar/log) after EVERY attempt.  The driver
        # parses the FINAL stdout line, so even if it kills us mid-
        # retry, the last finished attempt is a full, parseable record
        # — a retry can improve the artifact but never lose it.
        _emit(attempts, gate)
        if rec["eff"] >= gate:
            break
    for rec in attempts:
        try:
            os.remove(rec["log_path"])
        except OSError:
            pass


def _emit(attempts: list[dict], gate: float) -> None:
    import shutil

    best = _select_attempt(attempts, gate)
    # the committed log is always the KEPT attempt's log (copy, not
    # move: a later attempt may re-select)
    try:
        shutil.copyfile(best["log_path"], _LOG_PATH)
    except OSError:
        pass
    obj = dict(best["obj"])
    probe_before, probe_after = best["probe_before"], best["probe_after"]
    # Line-budget note (r12): with 51 headliners the final line must
    # shed ~150 chars to stay inside the driver's ~2000-char tail.
    # The on-line probe keeps the judgment fields (efficiencies,
    # best_of, clean); raw single-thread ms live in the sidecar's
    # cpu_probe_before/after as always.
    obj["probe"] = {
        "eff0": probe_before["par_eff"],
        "eff1": probe_after["par_eff"],
        "best_of": len(attempts),
        # max_eff is the quietest bracket seen across ALL attempts —
        # "how quiet did this session ever get"; clean grades the KEPT one
        "max_eff": round(max(r["eff"] for r in attempts), 3),
        "clean": best["eff"] >= gate,
    }
    exc = best["exc"]
    obj["exc_n"] = exc["count"]
    # self-explaining exception summary ON the artifact line — readable
    # without SCALE.md archaeology.  When every frame matched a KNOWN
    # BENIGN class, the compact form (count + top class + verdict)
    # says everything the line needs and saves ~90 chars (r12 line
    # budget); the full histogram + first frame stay in
    # bench_secondary.json's log_exceptions either way.  Any NOT-benign
    # outcome keeps the full self-explaining shape on the line.
    if exc["benign"] and exc["classes"]:
        top_class = max(exc["classes"].items(), key=lambda kv: kv[1])[0]
        obj["exc"] = {"n": exc["count"], "benign": True, "class": top_class}
    else:
        obj["exc"] = {
            "n": exc["count"],
            "classes": exc["classes"],
            "benign": exc["benign"],
            # 60 chars names the logger + message head; the full
            # 300-char frame is in bench_secondary.json (was 80 until
            # round 9 — trimmed for the paired array's line budget)
            "first": (exc["first"] or "")[:60] or None,
        }
    # ADVISORY normalization (VERDICT r6 missing-1): scale raw wall by
    # the measured parallel efficiency, i.e. "what this total would
    # read on an unshared host" ASSUMING the workload is fully
    # parallel.  Serial phases make this an over-correction, so it is
    # a companion number, never a replacement for raw wall — compare
    # value_norm across rounds only when both probes are in the JSON.
    effs = [e for e in (probe_before["par_eff"], probe_after["par_eff"]) if e]
    if effs and obj.get("value"):
        mean_eff = sum(effs) / len(effs)
        obj["value_norm"] = round(obj["value"] * mean_eff, 3)
    # fold the detail into the sidecar the KEPT child run wrote
    sec = dict(best["sidecar"])
    sec["cpu_probe_before"] = probe_before
    sec["cpu_probe_after"] = probe_after
    sec["log_exceptions"] = exc
    sec["attempts"] = [
        {
            "eff": round(r["eff"], 3),
            "value": r["obj"].get("value"),
            "exc_n": r["exc"]["count"],
            "kept": r is best,
        }
        for r in attempts
    ]
    sec["eff_gate"] = gate
    with open(_SIDECAR, "w") as f:
        json.dump(sec, f)
    print(_clamped_line(obj), flush=True)


def _clamped_line(obj: dict, limit: int = 1950) -> str:
    """Serialize the artifact, degrading unbounded fields until the
    line fits the driver's ~2000-char tail buffer (the round-4
    parsed:null failure class — a too-long final line loses the whole
    bench round).  Degradation order: per-query timings → exception
    first-frame → classes histogram clamped to top-3 + remainder →
    classes dropped → paired array (last: it is the noise-immune
    cross-round comparator).  Everything dropped here is always in
    bench_secondary.json."""
    line = json.dumps(obj)
    if len(line) > limit:
        obj["queries"] = {}
        line = json.dumps(obj)
    if len(line) > limit and obj.get("exc", {}).get("first"):
        obj["exc"]["first"] = None
        line = json.dumps(obj)
    if len(line) > limit and obj.get("exc", {}).get("classes"):
        top = sorted(obj["exc"]["classes"].items(), key=lambda kv: -kv[1])
        clamped = dict(top[:3])
        rest = sum(n for _, n in top[3:])
        if rest:
            clamped["_other"] = rest
        obj["exc"]["classes"] = clamped
        line = json.dumps(obj)
    if len(line) > limit and obj.get("exc", {}).get("classes"):
        obj["exc"]["classes"] = {}
        line = json.dumps(obj)
    if len(line) > limit and "paired" in obj:
        obj["paired"] = []
        line = json.dumps(obj)
    return line


# ------------------------------ child: the bench ------------------------------


def _paired_ratios(
    runs: dict[str, list[float]], yard_walls: list[float]
) -> dict[str, float]:
    """Per-headliner ratio to the MIN of its two bracketing yardstick
    samples (min, not mean: co-tenant noise only ever inflates a wall,
    so the smaller bracket is the cleaner local calibration).
    yard_walls[i] precedes HEADLINE[i]'s block; yard_walls[i+1] follows
    it.  Non-positive brackets are ignored; when BOTH brackets are
    unusable the entry drops (encoded as 0 on the line — visibly
    impossible, never mistaken for a real ratio)."""
    out: dict[str, float] = {}
    for i, name in enumerate(HEADLINE):
        brackets = [y for y in yard_walls[i : i + 2] if y > 0]
        if brackets and runs.get(name):
            out[name] = min(runs[name]) / min(brackets)
    return out


def _bench() -> None:
    from cdc_from_sql_and_nosql_to_data_warehouse_spark import operators as ops
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.plans.measure import timed_write, warm
    from cdc_from_sql_and_nosql_to_data_warehouse_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(
            os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1"
        )
    except ValueError:
        # non-sfN layout (e.g. the 10x-of-sf0.1 blowup dir used by the
        # round-10 sf1 sweep); the SF label is cosmetic in the artifact
        sf = float(os.environ.get("SPARK_GRAFT_SF_LABEL", "-1"))
    spark = get_spark("bench")
    # INFO level (not ERROR): the whole point of the captured sidecar
    # log is diagnosing what the r6 tail could not — retried tasks and
    # cleanup races only show up at INFO/WARN.  stderr goes to the
    # parent's tee, never to stdout, so the JSON line stays clean.
    spark.sparkContext.setLogLevel("WARN")
    # Local-bench sizing: testdata files are ~20 MB, so the default
    # 128 MB maxPartitionBytes yields 1-3 splits and idles the other
    # cores.  8 MB measured best across the headline mix: 4 MB over-
    # splits and the r2 q_udf_map_in_pandas "+43%" turned out to be
    # exactly this — per-partition Python-worker/Arrow-stream setup
    # (0.605 s at 4 MB → 0.47 at 8 MB → 0.43 at 16 MB), while 16 MB
    # under-parallelizes the join-heavy queries (q_min_cost_supplier
    # 1.01 → 1.44 s).  (On a real cluster with 128 MB+ row groups the
    # default is correct — this is a bench-host knob, not an engine
    # semantic.)  Bigger Arrow batches cut pandas-UDF overhead ~20%.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")

    warm(spark, sf_dir, HEADLINE, "/root/testdata/sf0.001")

    # PRIMARY metric: min of 3 BACK-TO-BACK runs per query — the
    # steady-state number, directly comparable to r1/r2's best-of-2
    # (measured: interleaving the rounds instead read ~25% high across
    # the board because per-query JIT/branch state never gets warm —
    # that protocol change, not any plan change, was the whole
    # "r3 looks slower" delta; back-to-back min at the same commit
    # reproduces r1's subset total within 2%).  A trailing interleaved
    # round is kept as a SECONDARY median-ish sanity stat so a stray
    # GC pause or session-drift trend is still visible.
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}

    def timed(name: str) -> float:
        return timed_write(spark, lambda: ops.REGISTRY[name].fn(spark, sf_dir), name)

    # paired calibration: one yardstick sample brackets every block
    yard_walls: list[float] = []
    for name in HEADLINE:
        yard_walls.append(timed(YARDSTICK))
        for _ in range(3):
            runs[name].append(timed(name))
    yard_walls.append(timed(YARDSTICK))
    interleaved = {name: round(timed(name), 3) for name in HEADLINE}

    timings_min = {name: round(min(ts), 3) for name, ts in runs.items()}
    total = round(sum(timings_min.values()), 3)
    paired = _paired_ratios(runs, yard_walls)
    # compact line encoding: int(ratio*100) in HEADLINE order, clipped
    # so one absurd outlier can't blow the line width
    paired_ints = [
        min(int(round(paired.get(n, 0.0) * 100)), 99999) for n in HEADLINE
    ]
    value_paired = round(sum(paired.values()), 2)
    yard_wall = round(min(yard_walls), 3)
    # dispersion: max/min across the 3 back-to-back runs per query —
    # a quiet host reads ~1.0-1.2; host time-sharing (the r6 failure
    # mode) pushes the median well past 1.3 and flags the artifact
    # as noise-contaminated without any after-the-fact archaeology
    spreads = {
        name: round(max(ts) / min(ts), 3) if min(ts) > 0 else None
        for name, ts in runs.items()
    }
    disp_vals = [s for s in spreads.values() if s]
    disp_med = round(statistics.median(disp_vals), 3) if disp_vals else None
    disp_max = round(max(disp_vals), 3) if disp_vals else None
    # the r1/r2 comparable subset (first 23 headliners; r3 appended 4)
    r2_subset = HEADLINE[:23]
    subset_total = round(sum(timings_min[n] for n in r2_subset), 3)
    # Secondary stats go to a sidecar file: the driver keeps only the
    # LAST ~2000 chars of captured output and parses the final line as
    # JSON.  In round 4 the single line (min + interleaved dicts for 39
    # queries) outgrew that buffer and the driver recorded
    # "parsed": null — the final stdout line must stay comfortably
    # inside the tail window, and nothing may print after it.
    with open(_SIDECAR, "w") as f:
        json.dump(
            {
                "queries_interleaved": interleaved,
                "total_interleaved": round(sum(interleaved.values()), 3),
                # Duplicate the headline detail here so the per-query
                # min-of-3 numbers survive even if the stdout line ever
                # takes the >1800-char fallback (which drops "queries").
                "queries_min": timings_min,
                "total_min": total,
                # off the stdout line since round 9 (paired array took
                # the space) — this sidecar is the canonical location
                "total_r2_comparable_subset": subset_total,
                "queries_runs": {n: [round(t, 3) for t in ts] for n, ts in runs.items()},
                "queries_spread": spreads,
                # dispersion summary moved off the line in round 9 to
                # make room for the paired array (still mirrored in
                # every attempt's sidecar)
                "disp_med": disp_med,
                "disp_max": disp_max,
                # full-precision paired calibration (the line carries
                # int(ratio*100); this is the 4dp source of truth)
                "queries_paired": {n: round(r, 4) for n, r in paired.items()},
                "yard_samples": [round(t, 3) for t in yard_walls],
                "yardstick": YARDSTICK,
                "protocol": "min-of-3 back-to-back (r1/r2: best-of-2 back-to-back)"
                " + yardstick-paired ratios (r9)",
            },
            f,
        )
    obj = {
        "metric": "headline_query_wall_total",
        "value": total,
        "unit": "sec",
        # 2dp on the LINE (r12: 51 headliners need ~50 chars back to
        # stay inside the driver tail); the sidecar's queries_min
        # keeps the 3dp source of truth, and cross-round drift reads
        # from the paired ints anyway
        "queries": {n: round(v, 2) for n, v in timings_min.items()},
        "sf": sf,
        # paired calibration (r9): ints are ratio*100, aligned with the
        # "queries" key order (= HEADLINE order); noise-immune
        # cross-round comparator — see module docstring
        "paired": paired_ints,
        "yard": {"q": YARDSTICK, "w": yard_wall},
        "value_paired": value_paired,
    }
    # Hard guard, mirrored in tests/test_bench_contract.py: if the
    # headline set ever grows the line past the driver's tail buffer,
    # drop per-query detail rather than ship an unparseable line.
    # (The parent adds probe/exc fields — leave it headroom: its own
    # clamp is 1950, additions measure ~210 worst after the r12
    # slimming of probe + benign-exc.)  Raw per-query walls go first
    # (duplicated in the sidecar as queries_min); the paired array
    # survives longer — it is the cross-round comparator.
    line = json.dumps(obj)
    if len(line) > 1740:
        obj["queries"] = {}
        line = json.dumps(obj)
    if len(line) > 1740:
        obj["paired"] = []
        line = json.dumps(obj)
    print(line)


def _redirect_offscale_artifacts() -> None:
    """An off-scale (--sf-dir) run must never clobber the committed
    sf0.1 artifacts: when the caller didn't pick an out dir, default it
    to a tmp dir (r12, ADVICE — previously only the env var
    redirected, so bare `--sf-dir <sf1>` overwrote the repo-root
    log/sidecar).  The module-level paths were computed at import
    time, so rebind them for this parent too (the child re-reads the
    env var at its own import)."""
    global _OUT_DIR, _LOG_PATH, _SIDECAR
    if "SPARK_BENCH_OUT_DIR" not in os.environ:
        import tempfile

        out = os.path.join(tempfile.gettempdir(), "spark_bench_offscale")
        os.makedirs(out, exist_ok=True)
        os.environ["SPARK_BENCH_OUT_DIR"] = out
    _OUT_DIR = os.environ["SPARK_BENCH_OUT_DIR"]
    _LOG_PATH = os.path.join(_OUT_DIR, "bench_spark_log.txt")
    _SIDECAR = os.path.join(_OUT_DIR, "bench_secondary.json")


def main() -> None:
    if os.environ.get("SPARK_BENCH_CHILD") == "1":
        _bench()
        return
    # Round-11 (VERDICT r10 next-1): explicit CLI for off-default scale
    # factors so decade sweeps get paired engine walls for free.  Flags
    # just set the env vars the child already honors — the driver's
    # bare `python bench.py` invocation is unchanged.
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=None,
                    help="testdata dir (default $SPARK_GRAFT_SF_DIR or "
                    "/root/testdata/sf0.1); non-sfN layouts label via --sf")
    ap.add_argument("--sf", default=None,
                    help="SF label for non-sfN dirs (sets SPARK_GRAFT_SF_LABEL)")
    ap.add_argument("--attempts", type=int, default=None,
                    help="override SPARK_BENCH_ATTEMPTS")
    ap.add_argument("--budget-sec", type=float, default=None,
                    help="override SPARK_BENCH_BUDGET_SEC")
    args = ap.parse_args()
    if args.sf_dir:
        os.environ["SPARK_GRAFT_SF_DIR"] = args.sf_dir
        _redirect_offscale_artifacts()
    if args.sf:
        os.environ["SPARK_GRAFT_SF_LABEL"] = args.sf
    if args.attempts is not None:
        os.environ["SPARK_BENCH_ATTEMPTS"] = str(args.attempts)
    if args.budget_sec is not None:
        os.environ["SPARK_BENCH_BUDGET_SEC"] = str(args.budget_sec)
    _parent()


if __name__ == "__main__":
    main()
