"""The crawl workload: ``CrawlEngine`` (broadcast bloom, corpus fetch)
over a world generated from the benchmark's seed."""

from __future__ import annotations

import dataclasses
import os
import random
import shutil
import statistics
import time
import traceback

from perfbench import checks, layers

HERE = os.path.dirname(os.path.abspath(__file__))
WORLDS = os.path.join(HERE, ".work", "worlds")


@dataclasses.dataclass
class CrawlPass:
    engine: object
    out_dir: str
    wall_s: float
    urls: int
    #: manifest ``committed_at`` of the bootstrap and of every round
    stamps: list
    error: str | None = None

    @property
    def round_s(self) -> list[float]:
        return [b - a for a, b in zip(self.stamps, self.stamps[1:])]


class CrawlWorkload:
    aqe = True  # README: AQE on for the crawl

    def __init__(self, name: str, world_kw: dict, rounds: int):
        self.name = name
        self.world_kw = world_kw
        self.rounds = rounds

    # --- set-up ------------------------------------------------------------

    def prepare(self, spark, seed: int, run_dir: str) -> None:
        from scalpel_spark.datagen.world import DATAGEN_VERSION, WorldParams, ensure_world

        self.seed = seed
        self.run_dir = run_dir
        # ensure_world re-generates unless the stamped (params,
        # DATAGEN_VERSION) match; the directory name only spreads worlds
        self.world_dir = ensure_world(
            os.path.join(WORLDS, f"{self.name}-s{seed}-v{DATAGEN_VERSION}"),
            WorldParams(seed=seed, **self.world_kw),
        )
        # the warm-up world has the workload's shape but its own fixed seed
        self.warm_dir = ensure_world(
            os.path.join(WORLDS, f"{self.name}-warmup-v{DATAGEN_VERSION}"),
            WorldParams(seed=0, **self.world_kw),
        )
        self._sim = None

    def warm_up(self, spark) -> None:
        """An untimed crawl of a separate world: the first crawl in a JVM
        is ~40% slower (JIT, Python workers, codegen)."""
        from scalpel_spark.crawl.engine import CrawlEngine

        out = os.path.join(self.run_dir, "warmup")
        CrawlEngine(spark, self.warm_dir, out, max_rounds=self.rounds).run()
        shutil.rmtree(out, ignore_errors=True)

    # --- timed body --------------------------------------------------------

    def run_pass(self, spark, i: int) -> CrawlPass:
        from scalpel_spark.crawl.engine import CrawlEngine

        out = os.path.join(self.run_dir, f"pass{i}")
        eng = CrawlEngine(spark, self.world_dir, out, max_rounds=self.rounds)
        t0 = time.perf_counter()
        try:
            summary = eng.run()
        except Exception as exc:  # a crawl that raises is a failed operation
            traceback.print_exc()
            return CrawlPass(eng, out, time.perf_counter() - t0, 0, [], repr(exc))
        wall = time.perf_counter() - t0
        stamps = [r["committed_at"] for r in summary["rounds"]]
        return CrawlPass(eng, out, wall, summary["total_fetched"], stamps)

    def end_to_end(self, passes) -> dict:
        passes = [p for p in passes if p.error is None]
        if not passes:
            raise RuntimeError("every timed crawl raised")
        crawl_s = sum(p.stamps[-1] - p.stamps[0] for p in passes)
        return {
            "wall_s": (statistics.median(p.wall_s for p in passes), "s"),
            "urls_per_s": (sum(p.urls for p in passes) / crawl_s, "1/s"),
            "round_s_p50": (
                statistics.median(r for p in passes for r in p.round_s),
                "s",
            ),
        }

    def notes(self, passes) -> list[str]:
        return [
            f"pass {i}: {p.urls} URLs, wall {p.wall_s:.3f} s, rounds "
            + " ".join(f"{r:.3f}" for r in p.round_s)
            for i, p in enumerate(passes)
        ]

    # --- oracle ------------------------------------------------------------

    def simulate(self):
        """``simulate_crawl`` on the same world and round cap (timed for
        the single-threaded baseline)."""
        if self._sim is None:
            import pyarrow.parquet as pq

            from scalpel_spark.crawl.simulator import simulate_crawl

            def rows(name):
                return pq.read_table(os.path.join(self.world_dir, f"{name}.parquet")).to_pylist()

            self.pages = {r["url"]: r for r in rows("pages")}
            seeds = rows("seeds")
            robots = {r["host"]: r for r in rows("robots")}
            t0 = time.perf_counter()
            sim = simulate_crawl(self.pages, seeds, robots, max_rounds=self.rounds)
            self._sim_s = time.perf_counter() - t0
            self._sim = sim
        return self._sim

    def check(self, spark, passes):
        sim = self.simulate()
        failed, problems = 0, []
        for i, p in enumerate(passes):
            if p.error is not None:
                failed += 1
                problems.append(f"{self.name} pass {i}: raised {p.error}")
                continue
            eng = p.engine
            fetch_log = [tuple(r) for r in eng.fetch_log_df().collect()]
            seen = [(r.url_hash, r.url) for r in eng.seen_df().collect()]
            images = [tuple(r) for r in eng.images_df().collect()]
            bad = checks.crawl_mismatches(sim, fetch_log, seen, images)
            if p.urls != len(sim.fetch_log):
                bad.append(f"total_fetched {p.urls} vs {len(sim.fetch_log)} expected")
            problems += [f"{self.name} pass {i}: {b}" for b in bad]
            failed += bool(bad)
        return len(passes), failed, problems

    # --- traced run --------------------------------------------------------

    def per_layer(self, spark, passes) -> dict:
        sim = self.simulate()
        fetched = sorted(
            r.url for r in sim.fetch_log if r.status == 200 and r.url in self.pages
        )
        sample = random.Random(self.seed).sample(fetched, min(len(fetched), 256))
        out = layers.kernel_replay([(self.pages[u]["html"], u) for u in sample])
        last = [p for p in passes if p.error is None][-1]
        out.update(layers.bloom_replay(last.out_dir))
        out.update(layers.tableio_walk(last.out_dir))
        out["baseline.simulator_urls_per_s"] = (len(sim.fetch_log) / self._sim_s, "1/s")
        return out

    def engine_phases(self, events, passes) -> dict:
        return layers.engine_phases(events, [p.stamps for p in passes if p.error is None])


WORKLOADS = {
    # a quarter of the pages as seeds makes every round politeness-capped
    # from round 0, so the URLs per round barely depend on the seed;
    # n_images only sizes the images table, which the crawl never reads
    "crawl_thin": CrawlWorkload(
        "crawl_thin",
        dict(n_hosts=120, n_pages=6000, n_images=300, budget_min=10, budget_max=30,
             seed_fraction=0.25),
        rounds=3,
    ),
}
