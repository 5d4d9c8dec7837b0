"""The catalog workload: catalog rows that run repo code outside the
crawl (scrape, near-dup, ANN/LSH, media), each result ``collect()``ed
and checked against its DuckDB oracle."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
import traceback

import pandas as pd

from perfbench import checks
from perfbench.layers import CATALOG_ROWS

HERE = os.path.dirname(os.path.abspath(__file__))
#: the sf0.01 ``documents`` and ``embeddings`` tables (500 rows each),
#: vendored so a run reads only its checkout
TABLES = os.path.join(HERE, "catalog_tables")
ORACLE_CACHE = os.path.join(HERE, ".work", "oracle")
SCRAPE_ROWS = ["scrape_img_attrs", "scrape_serial_sections"]


class CatalogWorkload:
    aqe = False  # README: AQE off for second-scale catalog plans
    name = "catalog"

    def prepare(self, spark, seed: int, run_dir: str) -> None:
        """The catalog reads fixed tables: ``seed`` is not used."""
        import pyarrow.parquet as pq

        self.n_docs = pq.read_metadata(os.path.join(TABLES, "documents.parquet")).num_rows

    def run_pass(self, spark, i: int = 0) -> dict:
        from scalpel_spark.queries import QUERIES
        from scalpel_spark.spark.util import release_candidate_cache

        rows = {}
        t_pass = time.perf_counter()
        for row in CATALOG_ROWS:
            t0 = time.perf_counter()
            try:
                df = QUERIES[row](spark, TABLES)
                cols, result = df.columns, df.collect()
            except Exception as exc:  # a row that raises is a failed operation
                traceback.print_exc()
                cols, result = None, repr(exc)
            rows[row] = (time.perf_counter() - t0, cols, result)
            release_candidate_cache()
        return {"wall_s": time.perf_counter() - t_pass, "rows": rows}

    def warm_up(self, spark) -> None:
        """One untimed pass: the first run of each row in a JVM pays
        Python-worker start, imports and codegen."""
        self.run_pass(spark)

    def end_to_end(self, passes) -> dict:
        scrape_s = sum(p["rows"][r][0] for p in passes for r in SCRAPE_ROWS)
        return {
            "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
            # pages (HTML documents) extracted per second by the scrape rows
            "urls_per_s": (len(SCRAPE_ROWS) * self.n_docs * len(passes) / scrape_s, "1/s"),
            # a step of the closed loop is one catalog row: the median over
            # passes of the pass's mean row time (row times are bimodal, so
            # a median over rows would jump between the two clusters)
            "round_s_p50": (
                statistics.median(p["wall_s"] / len(CATALOG_ROWS) for p in passes),
                "s",
            ),
        }

    def notes(self, passes) -> list[str]:
        return [
            f"pass {i}: " + " ".join(f"{r}={p['rows'][r][0]:.3f}" for r in CATALOG_ROWS)
            for i, p in enumerate(passes)
        ]

    # --- oracle ------------------------------------------------------------

    def oracle(self, row: str) -> tuple[list, list]:
        """``ORACLES[row]`` in DuckDB over the same parquet, normalised.
        The brute-force near-dup oracles take tens of seconds, so the
        result is cached under a key of the SQL text and the input
        bytes."""
        import duckdb

        from scalpel_spark.queries import ORACLES

        tables = {t: os.path.join(TABLES, f"{t}.parquet") for t in ("documents", "embeddings")}
        h = hashlib.sha256(ORACLES[row].encode())
        for path in tables.values():
            with open(path, "rb") as f:
                h.update(f.read())
        cache = os.path.join(ORACLE_CACHE, f"{row}-{h.hexdigest()[:24]}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                got = json.load(f)
            return got["columns"], got["rows"]
        con = duckdb.connect()
        try:
            for t, path in tables.items():
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            odf = con.sql(ORACLES[row]).df()
        finally:
            con.close()
        cols, rows = list(odf.columns), checks.norm_rows(odf)
        os.makedirs(ORACLE_CACHE, exist_ok=True)
        with open(cache + ".tmp", "w") as f:
            json.dump({"columns": cols, "rows": rows}, f)
        os.replace(cache + ".tmp", cache)
        return cols, rows

    def check(self, spark, passes):
        failed, problems = 0, []
        for i, p in enumerate(passes):
            for row in CATALOG_ROWS:
                _, cols, result = p["rows"][row]
                if cols is None:
                    bad = f"{row}: raised {result}"
                else:
                    got = pd.DataFrame.from_records([tuple(r) for r in result], columns=cols)
                    bad = checks.catalog_mismatch(row, got, *self.oracle(row))
                if bad:
                    failed += 1
                    problems.append(f"catalog pass {i}: {bad}")
        return len(passes) * len(CATALOG_ROWS), failed, problems

    # --- traced run --------------------------------------------------------

    def per_layer(self, spark, passes) -> dict:
        """Per-row seconds, and the media decode replayed on the blobs
        the image and video rows synthesize: ``decode_image`` per image
        blob, and the share of distinct blobs (what a decode memo can
        save)."""
        from scalpel_spark.imageops import decode_image, synthesize_images, synthesize_videos

        out = {
            f"catalog.{r}_s": (statistics.median(p["rows"][r][0] for p in passes), "s")
            for r in CATALOG_ROWS
        }
        docs = spark.read.parquet(os.path.join(TABLES, "documents.parquet"))
        imgs = synthesize_images(docs).select("bytes", "fmt").collect()
        t0 = time.perf_counter()
        for r in imgs:
            decode_image(bytes(r.bytes), r.fmt)
        out["imageops.decode_ms_per_blob"] = (
            (time.perf_counter() - t0) * 1e3 / len(imgs), "ms")
        out["imageops.distinct_blob_ratio"] = (
            len({bytes(r.bytes) for r in imgs}) / len(imgs), "ratio")
        vids = synthesize_videos(docs).select("bytes").collect()
        out["imageops.video_distinct_blob_ratio"] = (
            len({bytes(r.bytes) for r in vids}) / len(vids), "ratio")
        return out

    def engine_phases(self, events, passes) -> dict:
        return {}


WORKLOADS = {"catalog": CatalogWorkload()}
