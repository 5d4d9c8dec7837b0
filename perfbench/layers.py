"""Per-layer metrics of a traced run.

Two sources, both outside the program: timed calls into its public
functions (kernel replay with no Spark, the reference criterion shapes,
a bloom replay), and the Spark event log the benchmark turns on. Every
value is ``(number, unit)``; a layer a workload does not exercise
reports 0.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time

CATALOG_ROWS = [
    "scrape_img_attrs",
    "scrape_serial_sections",
    "minhash_neardup_docs",
    "ngram_jaccard_neardup_docs",
    "ann_cosine_topk",
    "embedding_similarity_join_lsh",
]

#: every per-layer metric, with its unit, in report order
PER_LAYER = {
    # kernel replay: the workload's own pages through the public
    # functions, no Spark (seconds over a fixed-size page sample)
    "html_parser.s": "s",
    "html_parser.tokens": "count",
    "index.s": "s",
    "scraper.s": "s",
    "crawl.urlnorm.s": "s",
    "crawl.urlnorm.links": "count",
    "crawl.hashing.s": "s",
    # the reference criterion shapes (benchmarks/Main.hs)
    "kernel.nested_1000_ms": "ms",
    "kernel.nested_10000_ms": "ms",
    "kernel.nested_10000_parse_ms": "ms",
    "kernel.many_selects_100_ms": "ms",
    "kernel.many_slash_100_ms": "ms",
    # bloom replay on the crawl's per-round links
    "crawl.bloom.probe_s": "s",
    "crawl.bloom.fp_ratio": "ratio",
    # event log, per timed pass
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.failed_tasks": "count",
    # Python boundary: Python-exec SQL metrics, per timed pass
    "spark.arrow.bytes_to_python": "B",
    "spark.arrow.bytes_from_python": "B",
    "spark.python.run_s": "s",
    "spark.python.boot_s": "s",
    "spark.python.init_s": "s",
    # crawl engine phases (rounds from manifest stamps, actions from
    # the table each SQL execution writes)
    "crawl.engine.jobs_per_round": "count",
    "crawl.engine.round_data_s": "s",
    "crawl.engine.frontier_delta_s": "s",
    "crawl.engine.compact_s": "s",
    "crawl.engine.gap_s": "s",
    "crawl.tableio.files_written": "count",
    "crawl.tableio.bytes_written": "B",
    # catalog
    **{f"catalog.{row}_s": "s" for row in CATALOG_ROWS},
    "imageops.decode_ms_per_blob": "ms",
    "imageops.distinct_blob_ratio": "ratio",
    "imageops.video_distinct_blob_ratio": "ratio",
    # single-threaded reference
    "baseline.simulator_urls_per_s": "1/s",
}


def _median_time(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


# --- kernel replay (no Spark) --------------------------------------------


def kernel_replay(pages) -> dict:
    """``pages``: [(html, url)]. Splits ``extract_page`` into its layers:
    tokenize, index (``parse_spec`` minus ``parse_html``), the page
    scraper, link canonicalisation and URL hashing."""
    from scalpel_spark.crawl.hashing import murmur3_64
    from scalpel_spark.crawl.logic import PAGE_SCRAPER
    from scalpel_spark.crawl.urlnorm import canonicalize_url
    from scalpel_spark.html_parser import parse_html
    from scalpel_spark.index import parse_spec
    from scalpel_spark.scraper import FAIL

    parse_s = spec_s = scrape_s = norm_s = hash_s = 0.0
    tokens = links = 0
    clock = time.perf_counter
    for html, url in pages:
        t0 = clock()
        toks = parse_html(html)
        t1 = clock()
        spec = parse_spec(html)
        t2 = clock()
        v = PAGE_SCRAPER.run(spec)
        t3 = clock()
        hrefs = [] if v is FAIL else v[1]
        canon = [canonicalize_url(h, base=url) for h in hrefs]
        t4 = clock()
        for c in canon:
            if c is not None:
                murmur3_64(c)
        t5 = clock()
        parse_s += t1 - t0
        spec_s += t2 - t1
        scrape_s += t3 - t2
        norm_s += t4 - t3
        hash_s += t5 - t4
        tokens += len(toks)
        links += len(hrefs)
    return {
        "html_parser.s": (parse_s, "s"),
        "html_parser.tokens": (tokens, "count"),
        "index.s": (spec_s - parse_s, "s"),
        "scraper.s": (scrape_s, "s"),
        "crawl.urlnorm.s": (norm_s, "s"),
        "crawl.urlnorm.links": (links, "count"),
        "crawl.hashing.s": (hash_s, "s"),
    }


def nested_html(n: int) -> str:
    return "<tag>" * n + "1" + "</tag>" * n


def criterion_shapes() -> dict:
    """scalpel's criterion groups (``benchmarks/Main.hs``): ``nested/N``
    = ``sum <$> chroots "tag" (return 1)`` over N nested tags;
    ``many-selects/k`` = k such selects over nested/1000; ``many-///k``
    = one select with a k-deep ``tag // tag // …`` chain over
    nested/1000. Median of repeated calls, in ms."""
    from functools import reduce

    from scalpel_spark import chroots, pure, replicate_m, scrape_html, tag
    from scalpel_spark.html_parser import parse_html

    one = chroots(tag("tag"), pure(1)).map(sum)
    h1k, h10k = nested_html(1000), nested_html(10000)
    chain = reduce(lambda a, b: a // b, [tag("tag")] * 100)
    deep = chroots(chain, pure(1)).map(sum)
    many = replicate_m(100, chroots(tag("tag"), pure(1)))
    assert scrape_html(h1k, one) == 1000
    ms = {
        "kernel.nested_1000_ms": _median_time(lambda: scrape_html(h1k, one), 7),
        "kernel.nested_10000_ms": _median_time(lambda: scrape_html(h10k, one), 3),
        "kernel.nested_10000_parse_ms": _median_time(lambda: parse_html(h10k), 3),
        "kernel.many_selects_100_ms": _median_time(lambda: scrape_html(h1k, many), 3),
        "kernel.many_slash_100_ms": _median_time(lambda: scrape_html(h1k, deep), 5),
    }
    return {k: (v * 1e3, "ms") for k, v in ms.items()}


# --- crawl output replays -------------------------------------------------


def _round_dirs(out_dir: str) -> list[str]:
    root = os.path.join(out_dir, "rounds")
    return [os.path.join(root, d) for d in sorted(os.listdir(root))]


def bloom_replay(out_dir: str) -> dict:
    """Replay the crawl's URL-seen prefilter with ``BloomShards`` (the
    engine's configuration from the manifest): seed the filter with the
    bootstrap frontier, then per round probe the round's distinct link
    hashes, count maybe-seen keys that were in fact new (exact checks
    the filter wasted), and add the new ones."""
    import numpy as np
    import pyarrow.parquet as pq

    from scalpel_spark.crawl.bloom import BloomShards

    with open(os.path.join(out_dir, "manifest.json")) as f:
        n_shards, bits, k = json.load(f)["engine"]["bloom"]
    bloom = BloomShards(n_shards, bits, k)
    dirs = _round_dirs(out_dir)
    seed = pq.read_table(os.path.join(dirs[0], "frontier_delta"), columns=["url_hash"])
    seen = np.unique(seed.column("url_hash").to_numpy())
    bloom.add_many(seen)
    probe_s, maybe_n, wasted = 0.0, 0, 0
    for d in dirs[1:]:
        links = pq.read_table(os.path.join(d, "round_data"), columns=["links"])
        flat = links.column("links").combine_chunks().flatten()
        hashes = np.unique(flat.field("url_hash").to_numpy(zero_copy_only=False))
        if not len(hashes):
            continue
        t0 = time.perf_counter()
        maybe = bloom.contains_many(hashes)
        probe_s += time.perf_counter() - t0
        known = np.isin(hashes, seen)
        maybe_n += int(maybe.sum())
        wasted += int((maybe & ~known).sum())
        new = hashes[~known]
        bloom.add_many(new)
        seen = np.union1d(seen, new)
    return {
        "crawl.bloom.probe_s": (probe_s, "s"),
        "crawl.bloom.fp_ratio": (wasted / maybe_n if maybe_n else 0.0, "ratio"),
    }


def tableio_walk(out_dir: str) -> dict:
    files = size = 0
    for root, _, names in os.walk(out_dir):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return {
        "crawl.tableio.files_written": (files, "count"),
        "crawl.tableio.bytes_written": (size, "B"),
    }


# --- Spark event log ------------------------------------------------------


def read_event_log(event_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_s(intervals) -> float:
    """Length in seconds of the union of ``(start_ms, end_ms)`` spans."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def job_spans(events) -> list[tuple[float, float]]:
    start, end = {}, {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            start[ev["Job ID"]] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            end[ev["Job ID"]] = ev["Completion Time"]
    return [(start[j], end[j]) for j in start if j in end]


_PYTHON_METRICS = {
    "data sent to Python workers": "spark.arrow.bytes_to_python",
    "data returned from Python workers": "spark.arrow.bytes_from_python",
    "time to run Python workers": "spark.python.run_s",
    "time to start Python workers": "spark.python.boot_s",
    "time to initialize Python workers": "spark.python.init_s",
}


def _metric_types(events) -> dict:
    """accumulator id → SQL metric type, from every plan the log holds."""
    types: dict = {}

    def walk(node):
        for m in node.get("metrics", []):
            types[m["accumulatorId"]] = m["metricType"]
        for c in node.get("children", []):
            walk(c)

    for ev in events:
        info = ev.get("sparkPlanInfo")
        if info:
            walk(info)
    return types


def event_log_metrics(events, t0: float, t1: float, n_passes: int) -> dict:
    """Totals over the timed interval ``[t0, t1]`` (epoch seconds),
    divided by the number of timed passes."""
    lo, hi = t0 * 1e3, t1 * 1e3
    jobs = [(s, e) for s, e in job_spans(events) if lo <= s <= hi]
    types = _metric_types(events)
    acc = dict.fromkeys(PER_LAYER, 0.0)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            if lo <= ev["Stage Info"].get("Submission Time", 0) <= hi:
                acc["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if not lo <= info["Launch Time"] <= hi:
                continue
            acc["spark.tasks"] += 1
            if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                acc["spark.failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            acc["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sr = m.get("Shuffle Read Metrics", {})
            acc["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            acc["spark.shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spark.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            acc["spark.output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            acc["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for a in info.get("Accumulables", []):
                key = _PYTHON_METRICS.get(a.get("Name"))
                if key is None:
                    continue
                v = float(a.get("Update", 0))
                if key.endswith("_s"):
                    v /= 1e9 if types.get(a["ID"]) == "nsTiming" else 1e3
                acc[key] += v
    acc["spark.jobs"] = len(jobs)
    acc["spark.driver_gap_s"] = (t1 - t0) - _union_s(jobs)
    names = ["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
             "spark.executor_run_s", "spark.executor_cpu_s", "spark.driver_gap_s",
             "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
             "spark.input_bytes", "spark.output_bytes", "spark.spill_bytes",
             *_PYTHON_METRICS.values()]
    return {k: (acc[k] / n_passes, PER_LAYER[k]) for k in names}


_WRITE_TARGET = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n.*\n"
    r"Arguments: \S*/(round_data|frontier_delta|frontier_base),"
)


def engine_phases(events, pass_stamps) -> dict:
    """Crawl rounds are the intervals between consecutive manifest
    ``committed_at`` stamps; each SQL execution is named by the table it
    writes. Per round: jobs, time in the ``round_data`` and
    ``frontier_delta`` writes, and the driver gap (round time outside
    every job); medians over all rounds. ``compact_s`` is the
    ``frontier_base`` write time per pass."""
    execs: dict = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            m = _WRITE_TARGET.search(ev.get("physicalPlanDescription", ""))
            if m:
                execs[ev["executionId"]] = [m.group(1), ev["time"], None]
        elif kind.endswith("SQLExecutionEnd") and ev["executionId"] in execs:
            execs[ev["executionId"]][2] = ev["time"]
    writes = [(t, s, e) for t, s, e in execs.values() if e is not None]
    jobs = job_spans(events)
    per_round = {"jobs": [], "round_data": [], "frontier_delta": [], "gap": []}
    compact = []
    for stamps in pass_stamps:
        ms = [s * 1e3 for s in stamps]
        compact.append(_union_s(
            (s, e) for t, s, e in writes if t == "frontier_base" and ms[0] <= s <= ms[-1]
        ))
        for a, b in zip(ms, ms[1:]):
            in_round = [(s, e) for s, e in jobs if a <= s <= b]
            per_round["jobs"].append(len(in_round))
            per_round["gap"].append((b - a) / 1e3 - _union_s(in_round))
            for table in ("round_data", "frontier_delta"):
                per_round[table].append(
                    _union_s((s, e) for t, s, e in writes if t == table and a <= s <= b)
                )

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    return {
        "crawl.engine.jobs_per_round": (med(per_round["jobs"]), "count"),
        "crawl.engine.round_data_s": (med(per_round["round_data"]), "s"),
        "crawl.engine.frontier_delta_s": (med(per_round["frontier_delta"]), "s"),
        "crawl.engine.compact_s": (med(compact), "s"),
        "crawl.engine.gap_s": (med(per_round["gap"]), "s"),
    }
