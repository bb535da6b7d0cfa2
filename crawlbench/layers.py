"""Traced-run layer metrics, all taken from outside the engine.

- ``JobLabels`` records which driver thread set each ``r<k>:<label>``
  job description (the engine tags jobs with
  ``SparkContext.setJobDescription`` on the thread that runs them).
- ``phase_table`` groups the Spark event-log jobs of the timed crawls
  by those descriptions (the parsing follows BENCH/jobgaps.py).
- ``kernel_table`` times calls into the public functions of
  ``operators``, ``functions`` and ``sources`` on the workload's own
  keys and pages.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

# the labelled phases the workloads reach ("rank" jobs run only on the
# distributed-rank path, batches above rank_window_max)
PHASES = (
    "eligible_probe", "summary", "seen_write", "bloom_fold",
    "seen_compact", "order_write", "items_write", "frontier_delta",
    "frontier_snapshot",
)
# phase.<p>.thread ids (-1: the phase ran no job). The thread is printed
# in the phase table; it is a category, not a metric, so it stays out
# of LAYER_METRICS.
THREADS = {"main": 0, "frontier-seen": 1, "frontier-ledger": 2}

# every per-layer metric of a traced run, with its unit
LAYER_METRICS = {
    "session.start_s": "s", "corpus.gen_s": "s", "oracle.run_s": "s",
    "warm.run_s": "s", "frontier.engine_setup_s": "s",
    "frontier.select_s": "s", "frontier.fetch_parse_s": "s",
    "frontier.seen_s": "s", "frontier.ledgers_s": "s",
    "frontier.materialize_s": "s",
    **{
        f"phase.{p}.{m}": u
        for p in PHASES
        for m, u in (("wall_s", "s"), ("exec_s", "s"), ("shuffle_bytes", "B"))
    },
    "driver.gap_s": "s", "driver.jobs_per_round": "count",
    "driver.result_bytes": "B",
    "bloom.check_keys_per_s": "1/s", "bloom.check_broadcast_keys_per_s": "1/s",
    "bloom.fold_keys_per_s": "1/s", "bloom.maybe_seen_share": "share",
    "bloom.fp_share": "share",
    "cuckoo.check_keys_per_s": "1/s", "cuckoo.fold_keys_per_s": "1/s",
    "seenstore.probe_keys_per_s": "1/s",
    "parse.udf_pages_per_s": "1/s", "parse.jvm_pages_per_s": "1/s",
    "urlnorm.identity_rows_per_s": "1/s", "robots.filter_rows_per_s": "1/s",
    "tableio.write_rows_per_s": "1/s", "tableio.files_per_round": "count",
    "tableio.bytes_per_round": "B",
    "host.memcpy_gb_per_s": "GB/s", "host.fault_gb_per_s": "GB/s",
    "trace.crawl_urls_per_s": "1/s",
}


def phase_of(label: str) -> str:
    """'eligible:probe' -> eligible_probe, 'rank:refine' -> rank,
    'seen-write' -> seen_write."""
    if label.startswith("eligible"):
        return "eligible_probe"
    head = label.split(":", 1)[0]
    return head.replace("-", "_")


def thread_id(name: str) -> int:
    for prefix, tid in THREADS.items():
        if name.startswith(prefix):
            return tid
    return 0 if name == "MainThread" else len(THREADS)


class JobLabels:
    """Wraps ``SparkContext.setJobDescription`` to note, per job
    description, the name of the thread that set it."""

    def __init__(self):
        self.thread_of: dict[str, str] = {}

    def install(self) -> None:
        from pyspark import SparkContext

        orig = SparkContext.setJobDescription
        seen = self.thread_of

        def set_job_description(sc, value):
            if value:
                seen[value] = threading.current_thread().name
            return orig(sc, value)

        SparkContext.setJobDescription = set_job_description


def read_event_log(evdir: str) -> list[dict]:
    """Events of the single application logged under ``evdir`` (a
    plain file, or a Spark 4 rolling ``eventlog_v2_*`` directory)."""
    lines: list[str] = []
    for entry in sorted(glob.glob(os.path.join(evdir, "*"))):
        parts = (
            sorted(glob.glob(os.path.join(entry, "events_*")))
            if os.path.isdir(entry)
            else [entry]
        )
        for p in parts:
            with open(p) as f:
                lines.extend(f)
    events = []
    for line in lines:
        try:
            events.append(json.loads(line))
        except json.JSONDecodeError:
            continue  # torn last line of an in-progress log
    return events


def _accum(stage_info: dict) -> dict[str, float]:
    out = {}
    for a in stage_info.get("Accumulables", []):
        name = a.get("Name", "")
        if name.startswith("internal.metrics."):
            try:
                out[name[len("internal.metrics."):]] = float(a["Value"])
            except (TypeError, ValueError):
                pass
    return out


def _covered_ms(ivals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(ivals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def phase_table(
    events: list[dict],
    windows: list[tuple[int, int, int]],
    thread_of: dict[str, str],
) -> dict[str, float]:
    """Per-round phase and driver metrics of the crawls whose
    (start_ms, end_ms, rounds) are ``windows``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"],
                "desc": props.get("spark.job.description") or "",
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = _accum(info)

    rounds = sum(w[2] for w in windows) or 1
    wall_ms = sum(w[1] - w[0] for w in windows)
    ivals: dict[str, list] = {}
    exec_ms: dict[str, float] = {}
    shuffle: dict[str, float] = {}
    thread_wall: dict[str, dict[int, int]] = {}
    all_ivals, n_jobs, result_bytes = [], 0, 0.0
    for j in jobs.values():
        if "end" not in j or not any(s <= j["start"] and j["end"] <= e for s, e, _ in windows):
            continue
        n_jobs += 1
        iv = (j["start"], j["end"])
        all_ivals.append(iv)
        label = j["desc"].split(":", 1)[1] if j["desc"][:1] == "r" and ":" in j["desc"] else ""
        ph = phase_of(label) if label else "unlabelled"
        ivals.setdefault(ph, []).append(iv)
        tid = thread_id(thread_of.get(j["desc"], "MainThread"))
        by_t = thread_wall.setdefault(ph, {})
        by_t[tid] = by_t.get(tid, 0) + iv[1] - iv[0]
        for sid in j["stages"]:
            m = stages.get(sid)
            if m is None:
                continue  # skipped (reused) stage
            exec_ms[ph] = exec_ms.get(ph, 0.0) + m.get("executorRunTime", 0.0)
            shuffle[ph] = shuffle.get(ph, 0.0) + sum(
                m.get(k, 0.0)
                for k in (
                    "shuffle.read.remoteBytesRead",
                    "shuffle.read.localBytesRead",
                    "shuffle.write.bytesWritten",
                )
            )
        # the result stage is created after its parents: highest id
        if j["stages"] and max(j["stages"]) in stages:
            result_bytes += stages[max(j["stages"])].get("resultSize", 0.0)

    out: dict[str, float] = {}
    for ph in PHASES:
        iv = ivals.get(ph, [])
        out[f"phase.{ph}.wall_s"] = _covered_ms(iv) / 1000.0 / rounds
        out[f"phase.{ph}.exec_s"] = exec_ms.get(ph, 0.0) / 1000.0 / rounds
        out[f"phase.{ph}.shuffle_bytes"] = shuffle.get(ph, 0.0) / rounds
        by_t = thread_wall.get(ph)
        out[f"phase.{ph}.thread"] = max(by_t, key=by_t.get) if by_t else -1
    # mean round wall of the traced crawls: printed beside the phase
    # walls as their share of the round, not reported as a metric
    out["driver.round_s"] = wall_ms / 1000.0 / rounds
    out["driver.gap_s"] = (wall_ms - _covered_ms(all_ivals)) / 1000.0 / rounds
    out["driver.jobs_per_round"] = n_jobs / rounds
    out["driver.result_bytes"] = result_bytes / rounds
    return out


# ------------------------------------------------------------------
# kernel table
# ------------------------------------------------------------------


KERNEL_REPS = 2  # timed calls per kernel


def _timed(fn) -> tuple[float, object]:
    """Median wall seconds of KERNEL_REPS calls, and the last result."""
    secs, res = [], None
    for _ in range(KERNEL_REPS):
        t = time.perf_counter()
        res = fn()
        secs.append(time.perf_counter() - t)
    return statistics.median(secs), res


def kernel_table(spark, shape, eng, corpus, scratch: str, cores: int):
    """Rows/s of the hot kernels on this workload's pages and keys and
    on the seen set of ``eng``, the last timed crawl. Returns (metrics,
    problems): problems lists kernel outputs that disagree with an
    exact answer."""
    from pyspark.sql import functions as F

    from crawler_spark.functions.parse import apply_parse, jvm_parsed_expr
    from crawler_spark.functions.urlnorm import url_hash_expr, with_url_identity
    from crawler_spark.operators.bloom import ShardedBloom
    from crawler_spark.operators.cuckoo import ShardedCuckoo
    from crawler_spark.operators.robots import filter_robots_allowed, prepare_robots
    from crawler_spark.operators.seenstore import seen_members
    from crawler_spark.sources.corpus import GENERIC_RULE
    from crawler_spark.sources.tableio import TableIO

    from shapes import robots_rules

    out: dict[str, float] = {}
    problems: list[str] = []

    def first(df):
        return df.collect()[0][0]

    pages = corpus.select("url", "text").persist()
    n_pages = pages.count()
    keys = corpus.select(url_hash_expr(F.col("canon_url")).alias("url_hash")).persist()
    n_keys = keys.count()
    cfg = eng.cfg
    seen = eng.read_seen().select("url_hash").persist()
    seen.count()
    n_known = first(keys.join(seen, "url_hash", "left_semi").selectExpr("count(*)"))

    # --- seen filters: fold the corpus keys into a store built from
    # the seen set, then probe every corpus key against that store
    for name, cls in (("bloom", ShardedBloom), ("cuckoo", ShardedCuckoo)):
        filt = cls(cfg.bloom_shards, cfg.bloom_capacity, cfg.bloom_fpp)
        store = filt.fold(None, seen).persist()
        store.count()

        def fold(filt=filt, store=store):
            return first(filt.fold(store, keys).selectExpr("count(*)"))

        secs, _ = _timed(fold)
        out[f"{name}.fold_keys_per_s"] = n_keys / secs

        def check(filt=filt, store=store):
            tagged = filt.check(keys, "url_hash", store)
            return first(tagged.selectExpr("sum(cast(_maybe_seen as int))"))

        secs, flagged = _timed(check)
        out[f"{name}.check_keys_per_s"] = n_keys / secs
        if flagged < n_known:
            problems.append(f"{name}.check missed {n_known - flagged} seen keys")
        if name == "bloom":
            out["bloom.maybe_seen_share"] = flagged / n_keys
            out["bloom.fp_share"] = (flagged - n_known) / max(1, n_keys - n_known)

            def check_bc(filt=filt, store=store):
                tagged = filt.check_broadcast(keys, "url_hash", store)
                return first(tagged.selectExpr("sum(cast(_maybe_seen as int))"))

            secs, flagged_bc = _timed(check_bc)
            out["bloom.check_broadcast_keys_per_s"] = n_keys / secs
            if flagged_bc != flagged:
                problems.append("bloom check_broadcast and check disagree")
        store.unpersist()

    # --- exact seen probe over the seen ledger's run files
    paths = [p for bands in eng.io.table_files("seen").values()
             for ps in bands.values() for p in ps]
    secs, members = _timed(
        lambda: first(seen_members(keys, paths, cores).selectExpr("count(*)"))
    )
    out["seenstore.probe_keys_per_s"] = n_keys / secs
    if members != n_known:
        problems.append(f"seen_members found {members} of {n_known} seen keys")

    # --- parse: Arrow UDF (the shape's rule) vs JVM codegen (link rule)
    udf_in = pages.withColumn("rule", F.lit("link")).withColumn(
        "temp", F.lit(None).cast("string")
    )
    secs, udf_links = _timed(
        lambda: first(
            apply_parse(udf_in, {"link": shape.rule}).selectExpr(
                "sum(size(parsed.requests))"
            )
        )
    )
    out["parse.udf_pages_per_s"] = n_pages / secs
    jvm = pages.select(jvm_parsed_expr(GENERIC_RULE, F.col("text")).alias("parsed"))
    secs, jvm_links = _timed(lambda: first(jvm.selectExpr("sum(size(parsed.requests))")))
    out["parse.jvm_pages_per_s"] = n_pages / secs
    if udf_links != jvm_links:
        problems.append(f"parse: UDF found {udf_links} links, JVM {jvm_links}")

    # --- canonical url identity over the pages' raw outlinks
    links = jvm.select(F.explode("parsed.requests.url").alias("url")).persist()
    n_links = links.count()
    secs, _ = _timed(
        lambda: first(
            with_url_identity(links, "url", None).selectExpr(
                "max(xxhash64(canon_url, host, url_hash))"
            )
        )
    )
    out["urlnorm.identity_rows_per_s"] = n_links / secs

    # --- robots over the identified outlinks, with the every-third-host
    # rules extract_polite crawls with
    ident = with_url_identity(links, "url", None).persist()
    ident.count()
    rules = robots_rules()
    robots = prepare_robots(
        spark.createDataFrame(rules, "host string, path_prefix string, allow boolean")
    )
    secs, _ = _timed(
        lambda: first(filter_robots_allowed(ident, robots).selectExpr("count(*)"))
    )
    out["robots.filter_rows_per_s"] = n_links / secs

    # --- ledger append through the table seam
    io = TableIO(spark, os.path.join(scratch, "kernel_io"), mode="parquet")
    rnd = iter(range(1, 1 << 20))
    secs, _ = _timed(lambda: io.write_round(ident, "bench", next(rnd), n_files=2))
    out["tableio.write_rows_per_s"] = n_links / secs

    for df in (pages, keys, seen, links, ident):
        df.unpersist()
    return out, problems


def table_files(workdir: str, rounds: int) -> dict[str, float]:
    """Files and bytes of every engine table's round partitions,
    per crawl round."""
    files, size = 0, 0
    for d in glob.glob(os.path.join(workdir, "*", "round=*")):
        for root, _, names in os.walk(d):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return {
        "tableio.files_per_round": files / max(1, rounds),
        "tableio.bytes_per_round": size / max(1, rounds),
    }
