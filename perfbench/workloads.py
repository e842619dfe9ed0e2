"""The benchmark's workloads: inputs from a seed, one measured unit, and the
output check of that unit.

Each workload drives the engine only through its public API.  ``generate``
writes the inputs, ``expect`` derives the expected outputs from the same
seed without the engine, ``unit`` runs one closed-loop unit of measured work
and returns its walls, and ``check`` compares the unit's outputs with the
expectations, outside the timed region, and returns the mismatches.
``unit(..., warm=True)`` runs a small slice of the same inputs through the
same code, for a round or two: set-up runs it once, so that the session's
first-use costs (Python worker start and imports, the first codegen and
JIT) fall in set-up rather than in a measured unit.  A workload made of
``parts`` is set up part by part, the parts side by side.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import hashlib
import json
import os
import tempfile
import time

import captions
from spans import QUERIES

CRAWL_CALLBACKS = {"list": True, "detail": False}  # dedup gate on detail pages


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:
                pass
    return total


def time_rounds(obj, span: str, tracer=None, after=None) -> list[float]:
    """Wrap this instance's ``step`` so that ``run()`` records the wall of
    every non-empty round (inside span ``span`` when tracing) and calls
    ``after`` once the round has committed; returns the list of walls."""
    step, rounds = obj.step, []

    def timed() -> int:
        t0 = time.perf_counter()
        with tracer.span(span) if tracer is not None else contextlib.nullcontext():
            n = step()
        if n:
            rounds.append(time.perf_counter() - t0)
            if after is not None:
                after()
        return n

    obj.step = timed
    return rounds


class Unit:
    """Walls and counters of one measured unit."""

    def __init__(self, wall_s: float, items: int, rounds: list[float], layer: dict, output):
        self.wall_s = wall_s
        self.items = items
        self.rounds = rounds
        self.layer = layer  # per-layer numbers the unit records itself
        self.output = output  # what ``check`` reads


class Crawl:
    """Seed-to-exhaustion crawl over a generated corpus, checked against the
    single-threaded simulator."""

    top = "crawl.step"

    def __init__(self, spec: dict, budget: int, retry_times: int, compact_every: int):
        self.spec_kw, self.budget = spec, budget
        self.retry_times, self.compact_every = retry_times, compact_every

    def generate(self, spark, seed: int, d: str) -> None:
        from spiderman_spark import corpusgen as cg

        from spiderman_spark import simulator as sim

        self.spec = cg.CorpusSpec(seed=seed, **self.spec_kw)
        self.seeds = sim.make_seeds(self.spec)
        self.corpus_path = os.path.join(d, "corpus")
        cg.build_crawl_corpus(spark, self.spec).write.mode("overwrite").parquet(self.corpus_path)

    def expect(self) -> None:
        from spiderman_spark import simulator as sim

        spec = self.spec
        self.ref = sim.simulate_crawl(
            sim.corpus_as_dict(spec),
            self.seeds,
            politeness=sim.Politeness(max_per_round=self.budget, retry_times=self.retry_times),
            callbacks={**CRAWL_CALLBACKS, "file": False},
        )

    def unit(self, spark, workdir: str, tracer=None, warm: bool = False) -> Unit:
        from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine

        engine = CrawlEngine(
            spark,
            spark.read.parquet(self.corpus_path),
            workdir,
            CrawlConfig(
                callbacks=dict(CRAWL_CALLBACKS),
                default_budget=self.budget,
                retry_times=self.retry_times,
                compact_every=self.compact_every,
                # one round runs every phase: head, parse, fingerprints, the
                # dedup gate on the discovered children, the table writes
                max_rounds=1 if warm else CrawlConfig.max_rounds,
            ),
        )
        engine.seed(self.seeds[:2] if warm else self.seeds)
        layer = dict.fromkeys(("head_s", "plan_s", "wave_s", "post_s", "children"), 0.0)

        def after_round() -> None:
            for k in ("head_s", "plan_s", "wave_s", "post_s"):
                layer[k] += engine.round_profile[k]
            with open(os.path.join(workdir, "checkpoint.json")) as fh:
                layer["children"] += json.load(fh)["lineage"]["n_children"]

        rounds = time_rounds(engine, self.top, tracer, after_round)
        t0 = time.perf_counter()
        pages = engine.run()["fetched"]
        wall = time.perf_counter() - t0
        layer["state_bytes"] = dir_bytes(workdir)
        return Unit(wall, pages, rounds, layer, engine)

    def check(self, unit: Unit) -> list[str]:
        engine, ref, bad = unit.output, self.ref, []
        order = [
            (r["rank"], r["round"], r["url"], r["host"], r["attempt"])
            for r in engine.crawl_order().orderBy("rank").collect()
        ]
        if order != ref.crawl_order:
            bad.append(f"crawl_order differs ({len(order)} vs {len(ref.crawl_order)} rows)")
        if {r["fp"] for r in engine.url_seen().collect()} != ref.url_seen:
            bad.append("url_seen fingerprints differ")
        failed = sorted(r["url"] for r in engine.failed().collect())
        if failed != sorted(u for u, _ in ref.failed):
            bad.append("failed urls differ")
        if len(unit.rounds) != ref.rounds:
            bad.append(f"rounds {len(unit.rounds)} vs {ref.rounds}")
        return bad


class ImageFetch:
    """The decoupled image downloader over every image of a generated
    corpus; statuses checked against the corpus generator."""

    top = "download.step"

    def __init__(self, spec: dict, verify_fraction: float):
        self.spec_kw, self.verify_fraction = spec, verify_fraction

    def generate(self, spark, seed: int, d: str) -> None:
        from spiderman_spark import corpusgen as cg

        self.spec = spec = cg.CorpusSpec(seed=seed, **self.spec_kw)
        self.corpus_path = os.path.join(d, "corpus")
        self.images_path = os.path.join(d, "images")
        cg.build_crawl_corpus(spark, spec).write.mode("overwrite").parquet(self.corpus_path)
        cg.build_image_corpus(spark, spec).write.mode("overwrite").parquet(self.images_path)

    def expect(self) -> None:
        from spiderman_spark import corpusgen as cg

        spec = self.spec
        urls = [cg.image_url(spec, *k[1:]) for k in cg.iter_keys(spec) if k[0] == "image"]
        self.n_images = len(urls)
        self.n_ok = sum(cg.http_status(spec, u) == 200 for u in urls)

    def unit(self, spark, workdir: str, tracer=None, warm: bool = False) -> Unit:
        from pyspark.sql import functions as F

        from spiderman_spark.plans.download import (
            STATUS_PENDING,
            DownloadConfig,
            ImageDownloader,
        )

        images = spark.read.parquet(self.images_path)
        file_meta = images.select(
            F.col("image_id").alias("keyid"),
            F.col("url").alias("file_url"),
            F.lit("png").alias("file_type"),
            F.element_at(F.split("url", "/"), -1).alias("file_name"),
            F.lit(STATUS_PENDING).alias("status"),
            F.lit("").alias("file_path"),
            F.lit("").alias("fkey"),
            F.lit("20240101").alias("bizdate"),
        )
        dl = ImageDownloader(
            spark,
            spark.read.parquet(self.corpus_path),
            images,
            workdir,
            DownloadConfig(
                default_budget=1 << 30,
                verify_fraction=self.verify_fraction,
                max_rounds=1 if warm else DownloadConfig.max_rounds,
            ),
        )
        rounds = time_rounds(dl, self.top, tracer)
        t0 = time.perf_counter()
        dl.make_job(file_meta.limit(16) if warm else file_meta)
        dl.run()
        wall = time.perf_counter() - t0
        return Unit(wall, self.n_ok, rounds, {"state_bytes": dir_bytes(workdir)}, dl)

    def check(self, unit: Unit) -> list[str]:
        from spiderman_spark.plans.download import STATUS_FAIL, STATUS_OK

        dl, bad = unit.output, []
        verified = {
            r["verified"]: r["n"]
            for r in dl.images().groupBy("verified").count().withColumnRenamed("count", "n").collect()
        }
        if sum(verified.values()) != self.n_ok:
            bad.append(f"images {sum(verified.values())} vs {self.n_ok} with http 200")
        if verified.get(False):
            bad.append(f"{verified[False]} sampled images failed verification")
        if not verified.get(True):
            bad.append("no image was verified")
        status = {
            r["status"]: r["n"]
            for r in dl.file_meta().groupBy("status").count().withColumnRenamed("count", "n").collect()
        }
        want = {STATUS_OK: self.n_ok, STATUS_FAIL: self.n_images - self.n_ok}
        if status != {k: v for k, v in want.items() if v}:
            bad.append(f"file_meta status counts {status} vs {want}")
        return bad


def _digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and an order-insensitive digest (columns by name, rows sorted)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted((tuple(r[i] for i in idx) for r in rows), key=lambda t: tuple(str(x) for x in t))
    h = hashlib.sha256(repr((sorted(cols), norm)).encode()).hexdigest()
    return len(rows), h


class CaptionDedup:
    """The eight dedup / text-stats / similarity queries, each written to the
    ``noop`` sink, over seeded documents and embeddings; each query's rows
    are checked against its DuckDB oracle."""

    def __init__(self, n_docs: int, n_vecs: int):
        self.n_docs, self.n_vecs = n_docs, n_vecs

    def generate(self, spark, seed: int, d: str) -> None:
        self.d = d
        self.sf_dir = os.path.join(d, "testdata", "sf0.1")
        self.warm_dir = os.path.join(d, "warm")
        captions.write(seed, self.n_docs, self.n_vecs, self.sf_dir)
        captions.write(seed, self.n_docs // 10, self.n_vecs // 10, self.warm_dir)

    def expect(self) -> None:
        import duckdb

        import __spark_entry__ as entry
        from spiderman_spark import oraclegen

        # the q34 oracle joins per-gram hashes of this corpus's vocabulary
        grams = os.path.join(self.d, "q34_gram_hashes.parquet")
        oraclegen.q34_gram_hashes(os.path.dirname(self.sf_dir)).to_parquet(grams, index=False)
        # the oracle SQL names the fixture files that oraclegen builds from the
        # repository's own test tables; of those only q34's is read here, and
        # it is swapped for this corpus's, so the (run-local) fixture cache is
        # marked built and nothing outside the run's tree is read
        cache = os.path.join(tempfile.gettempdir(), f"spfrontier-oraclefix-v{oraclegen.FIXTURE_VERSION}")
        os.makedirs(cache, exist_ok=True)
        open(os.path.join(cache, "_SUCCESS_LOCAL"), "w").close()
        fixture = os.path.join(oraclegen.ensure_fixtures(), "q34_gram_hashes.parquet")
        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {}
            for q in QUERIES:
                res = con.execute(sql[q].replace(fixture, grams))
                cols = [c[0] for c in res.description]
                self.expected[q] = _digest(cols, [tuple(r) for r in res.fetchall()])
        finally:
            con.close()

    def unit(self, spark, workdir: str, tracer=None, warm: bool = False) -> Unit:
        import __spark_entry__ as entry

        qs = entry.queries()
        if warm:  # the queries' first-use costs overlap; nothing is timed
            with concurrent.futures.ThreadPoolExecutor(len(QUERIES)) as pool:
                sink = lambda q: qs[q](spark, self.warm_dir).write.format("noop").mode("overwrite").save()  # noqa: E731
                list(pool.map(sink, QUERIES))
            return None
        walls, frames = [], {}
        for q in QUERIES:
            span = tracer.span(q) if tracer is not None else contextlib.nullcontext()
            t0 = time.perf_counter()
            with span:
                df = qs[q](spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            frames[q] = df
        rows_in = 4 * self.n_docs + 4 * self.n_vecs  # four queries read each table
        return Unit(sum(walls), rows_in, walls, {"query_s": dict(zip(QUERIES, walls))}, frames)

    def check(self, unit: Unit) -> list[str]:
        bad = []
        for q, df in unit.output.items():
            got = _digest(df.columns, [tuple(r) for r in df.collect()])
            if got != self.expected[q]:
                bad.append(f"{q}: {got[0]} rows, oracle {self.expected[q][0]} (or digest differs)")
        return bad


class ImageCaption:
    """The per-item Python work after a crawl, with no frontier state: the
    image downloader over every image of a corpus, then the caption queries
    over that corpus's documents and embeddings; checked part by part.  Set-up
    prepares the two ``parts`` side by side."""

    top = ImageFetch.top  # jobs outside any span belong to the downloader

    def __init__(self, images: ImageFetch, captions: CaptionDedup):
        self.images, self.captions = images, captions
        self.parts = (images, captions)

    def unit(self, spark, workdir: str, tracer=None) -> Unit:
        a = self.images.unit(spark, workdir, tracer)
        b = self.captions.unit(spark, workdir, tracer)
        return Unit(a.wall_s + b.wall_s, a.items + b.items, a.rounds + b.rounds, {**a.layer, **b.layer}, (a, b))

    def check(self, unit: Unit) -> list[str]:
        a, b = unit.output
        return self.images.check(a) + self.captions.check(b)


WORKLOADS = {
    # politeness-bound rounds: 64 uniform hosts, 16 fetches per host per
    # round, one retry; 4 rounds for every seed (the cap spreads the detail
    # pages over rounds 2-3, round 4 retries the last failures)
    "crawl_polite": lambda: Crawl(
        dict(hosts=64, list_pages=64, details_per_page=20, images_per_detail=1, mega_host=False),
        budget=16,
        retry_times=1,
        compact_every=2,
    ),
    "image_caption": lambda: ImageCaption(
        ImageFetch(
            dict(hosts=64, list_pages=3, details_per_page=20, images_per_detail=4, img_lo=160, img_hi=224),
            verify_fraction=0.15,
        ),
        CaptionDedup(n_docs=300, n_vecs=150),
    ),
}
