"""One benchmark run of one crawl workload, in one Spark session.

Started by run.py as ``workload.py <workload> <seed> <seconds> <trace>
<workdir> <result.json>``. Set-up (untimed, reported as setup_s):
session boot, corpus generation and the GoOracle digest of the crawl
(both beside the boot), and the warm pass: a Python worker-pool pass
beside the first crawl's engine construction, then round 1 of that
crawl. Timed: rounds 2.. of back-to-back crawls of the workload,
one at a time, until ``seconds`` have passed. Every crawl is checked
against the oracle digest before the next one starts.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import host  # noqa: E402
import layers  # noqa: E402
from shapes import BATCH, N_HOSTS, ROUNDS, SHAPES  # noqa: E402


def generate_corpus(shape, seed: int, path: str, n_files: int) -> dict[str, str]:
    """Write the workload's pages as ``n_files`` parquet files under
    ``path`` (url, canon_url, warc_ts, text) with the repo's generic
    page generator, and return them as canon_url -> text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawler_spark.functions.urlnorm import canonicalize_url
    from crawler_spark.sources.corpus import generic_page_text, generic_url

    os.makedirs(path, exist_ok=True)
    pages: dict[str, str] = {}
    step = -(-shape.pages // n_files)
    for part, lo in enumerate(range(0, shape.pages, step)):
        ids = range(lo, min(shape.pages, lo + step))
        urls = [generic_url(seed, i, N_HOSTS) for i in ids]
        texts = [
            generic_page_text(seed, i, shape.pages, N_HOSTS, 10,
                              filler_kb=shape.filler_kb)
            for i in ids
        ]
        canon = [canonicalize_url(u) for u in urls]
        pages.update(zip(canon, texts))
        pq.write_table(
            pa.table({
                "url": urls,
                "canon_url": canon,
                "warc_ts": pa.array([1_704_067_200_000_000 + i for i in ids],
                                    pa.timestamp("us", tz="UTC")),
                "text": texts,
            }),
            os.path.join(path, f"part-{part:04d}.parquet"),
        )
    return pages


def oracle_digest(shape, seed: int, pages: dict[str, str]) -> dict:
    """The oracle's order, seen set, items and failures for this crawl."""
    from crawler_spark.plans.oracle import GoOracle

    res = GoOracle(
        [shape.task(seed)], pages, batch_size=BATCH,
        robots=shape.robots(), max_rounds=ROUNDS,
    ).run()
    return {
        "order": [(o["round"], o["url"], o["fetched"]) for o in res.crawl_order],
        "hosts": Counter((o["round"], o["host"]) for o in res.crawl_order),
        "seen": res.seen,
        "failures": set(res.failures),
        "items": Counter(
            (it["task"], it["rule"], it["url"],
             tuple(sorted((k, v) for k, v in it.items() if k not in ("task", "rule", "url"))))
            for it in res.items
        ),
    }


def prepare_inputs(shape, seed: int, path: str, n_files: int) -> dict:
    """Corpus and oracle digest, with their timings."""
    t = time.perf_counter()
    pages = generate_corpus(shape, seed, path, n_files)
    t_gen = time.perf_counter() - t
    t = time.perf_counter()
    digest = oracle_digest(shape, seed, pages)
    return {"corpus.gen_s": t_gen, "oracle.run_s": time.perf_counter() - t,
            "digest": digest}


def _counter_diff(a: Counter, b: Counter) -> int:
    return sum(((a - b) + (b - a)).values())


def wrong_outputs(eng, digest: dict, record_order: bool) -> int:
    """Rows that differ from the oracle: crawl order (or, without the
    order ledger, the per-round per-host schedule), seen set, failures
    and items."""
    wrong = 0
    if record_order:
        got = [(r["round"], r["url"], r["fetched"]) for r in eng.read_order().collect()]
        exp = digest["order"]
        wrong += sum(a != b for a, b in zip(got, exp)) + abs(len(got) - len(exp))
    else:
        got = Counter()
        for r in eng.read_lineage().select("round", "host", "scheduled").collect():
            got[(r["round"], r["host"])] += r["scheduled"]
        wrong += _counter_diff(got, digest["hosts"])
    wrong += len({r.url_hash for r in eng.read_seen().select("url_hash").collect()} ^ digest["seen"])
    wrong += len({r.url_hash for r in eng.read_failures().collect()} ^ digest["failures"])
    items = Counter(
        (r.task, r.rule, r.url, tuple(sorted(json.loads(r.fields).items())))
        for r in eng.read_items().collect()
    )
    return wrong + _counter_diff(items, digest["items"])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, n))
        for root, _, names in os.walk(path)
        for n in names
    )


def round_wall(m: dict) -> float:
    """A round's wall time: the sum of the engine's per-round stopwatch
    segments (t_sel_rank is a sub-split of t_select)."""
    return sum(
        v for k, v in m.items()
        if k.startswith("t_") and k != "t_sel_rank" and isinstance(v, (int, float))
    )


def warm_workers(spark, cores: int) -> None:
    """Fork the Python worker pool and import pandas and pyarrow in
    every worker. A link-only crawl first calls Python in round 2 (the
    bloom probe), which would otherwise pay for this in a timed round."""

    def identity(batches):
        yield from batches

    spark.range(0, 4 * cores, 1, cores).mapInPandas(identity, "id long").count()


def main(argv: list[str]) -> dict:
    name, seed, seconds, traced, work, _ = argv
    seed, seconds, traced = int(seed), float(seconds), traced == "1"
    shape = SHAPES[name]
    cores = host.cpu_count()
    layer: dict[str, float] = {}
    probe = host.host_probe()
    layer["host.memcpy_gb_per_s"] = probe["memcpy_gb_per_s"]
    layer["host.fault_gb_per_s"] = probe["fault_gb_per_s"]

    t_setup = time.perf_counter()
    labels = layers.JobLabels()
    if traced:
        labels.install()
    evdir = os.path.join(work, "events")
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        # fixed-size heap: no heap resizing, so peak RSS repeats run to run
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if traced:
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        })
    from crawler_spark.session import get_spark

    # the corpus and the oracle run in a driver thread beside the JVM
    # boot, which leaves the driver's Python idle
    corpus_path = os.path.join(work, "corpus")
    with ThreadPoolExecutor(1, thread_name_prefix="prepare-inputs") as pool:
        prep = pool.submit(prepare_inputs, shape, seed, corpus_path, cores)
        t = time.perf_counter()
        spark = get_spark(f"crawlbench_{name}", cores=cores, shuffle_partitions=cores,
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        layer["session.start_s"] = time.perf_counter() - t
        inputs = prep.result()
    digest = inputs.pop("digest")
    layer.update(inputs)

    from crawler_spark.plans.frontier import FrontierEngine

    corpus = spark.read.parquet(corpus_path)
    robots = shape.robots()

    # --- crawls, one at a time. Round 1 of every crawl is untimed: in
    # the first crawl it is the warm pass (engine construction and
    # set-up, the first compile of the round's plan shapes), with the
    # Python worker pool warmed beside the construction; later crawls
    # leave round 1 untimed too, so every crawl times the
    # same rounds. The timer covers rounds 2.. of each crawl, up to the
    # end of run(), until `seconds` have passed; round 1 ends where the
    # engine's set-up and round-1 stopwatch say. The check runs after
    # each crawl, outside the timing.
    crawls, windows, timed = [], [], 0.0
    sampler = host.RssSampler()
    eng, setup_s = None, None
    while timed < seconds or not crawls:
        workdir = os.path.join(work, f"crawl{len(crawls)}")
        if eng is not None:
            shutil.rmtree(eng.workdir, ignore_errors=True)
        try:
            t = time.perf_counter()
            # the first crawl warms the worker pool beside the engine's
            # construction
            with ThreadPoolExecutor(1, thread_name_prefix="warm-workers") as pool:
                warm = pool.submit(warm_workers, spark, cores) if not crawls else None
                rdf = (
                    spark.createDataFrame(robots, "host string, path_prefix string, allow boolean")
                    if robots else None
                )
                eng = FrontierEngine(spark, [shape.task(seed)], corpus, shape.config(cores),
                                     robots=rdf, workdir=workdir)
                if warm:
                    warm.result()
            start_ms = int(time.time() * 1000)
            with sampler:
                t_run = time.perf_counter()
                eng.run(max_rounds=ROUNDS, record_order=shape.record_order)
                t_end = time.perf_counter()
            end_ms = int(time.time() * 1000)
            # seconds from the start of run() to the end of round 1
            untimed = eng.setup_secs + round_wall(eng.metrics[0])
            if setup_s is None:
                layer["warm.run_s"] = t_run - t + untimed
                setup_s = t_run - t_setup + untimed
            walls = [round_wall(m) for m in eng.metrics[1:]]
            # the timed wall runs to the end of run(): background seen
            # and ledger work still running after the last round counts
            wall = t_end - t_run - untimed
            timed += wall
            # the traced phase table covers the timed rounds only
            windows.append((start_ms + int(1000 * untimed), end_ms, len(walls)))
            wrong = wrong_outputs(eng, digest, shape.record_order)
            crawls.append({
                "wall": wall, "walls": walls, "wrong": wrong, "metrics": eng.metrics[1:],
                "setup": eng.setup_secs,
                "urls": sum(m["batch"] for m in eng.metrics[1:]),
                "stored": dir_bytes(workdir) / sum(m["batch"] for m in eng.metrics),
            })
        except Exception:  # a failed crawl is a failed operation
            traceback.print_exc()
            crawls.append({"failed": True})
            break

    ok = [c for c in crawls if not c.get("failed")]
    failed = sum(1 for c in crawls if c.get("failed") or c["wrong"] > 0)
    wrong = sum(c.get("wrong", 0) for c in ok)
    rounds = [w for c in ok for w in c["walls"]]
    e2e = {
        "crawl_urls_per_s": (sum(c["urls"] for c in ok) / sum(c["wall"] for c in ok), "1/s"),
        "round_s_p50": (statistics.median(rounds), "s"),
        "round_s_max": (statistics.median(max(c["walls"]) for c in ok), "s"),
        "setup_s": (setup_s, "s"),
        "stored_bytes_per_url": (statistics.median(c["stored"] for c in ok), "B"),
        "peak_rss_mb": (sampler.peak / 2**20, "MB"),
    } if ok else {}
    info = {
        "wrong_outputs": (wrong, "count"),
        "failed_share": (failed / len(crawls), "share"),
        "crawls": (len(crawls), "count"),
        "timed_rounds": (len(rounds), "count"),
    }

    problems = []
    if traced and ok:
        ms = [m for c in ok for m in c["metrics"]]
        for key, col in (("select", "t_select"), ("fetch_parse", "t_fetch_parse"),
                         ("seen", "t_seen"), ("ledgers", "t_ledgers"),
                         ("materialize", "t_frontier")):
            layer[f"frontier.{key}_s"] = statistics.median(m.get(col, 0.0) for m in ms)
        layer["frontier.engine_setup_s"] = statistics.median(c["setup"] for c in ok)
        layer.update(layers.table_files(eng.workdir, len(eng.metrics)))
        kt, problems = layers.kernel_table(spark, shape, eng, corpus, work, cores)
        layer.update(kt)
        layer["trace.crawl_urls_per_s"] = e2e["crawl_urls_per_s"][0]
    spark.stop()
    if traced and ok:
        layer.update(layers.phase_table(layers.read_event_log(evdir), windows,
                                       labels.thread_of))
    return {
        "attempted": len(crawls),
        "failed": failed,
        "correct": wrong == 0 and not problems and bool(ok),
        "problems": problems,
        "end_to_end": e2e,
        "info": info,
        "layer": layer,
    }


if __name__ == "__main__":
    result = main(sys.argv[1:])
    with open(sys.argv[6], "w") as f:
        json.dump(result, f)
