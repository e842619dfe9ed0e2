"""The parse pass stamps each child request with its dedup key: ``fp`` and
``canon`` from ``parse_pages`` (and in fleet handoff drops) must equal the
pure ``urltools.fingerprint``/``canonical`` the simulator uses."""

import glob
import os

from pyspark.sql import functions as F

from spiderman_spark import corpusgen as cg
from spiderman_spark import simulator as sim
from spiderman_spark.functions.urltools import canonical, fingerprint
from spiderman_spark.operators.parse import parse_pages, requests_of
from spiderman_spark.parselib import parse_body
from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine

_MIXED = "HTTP://Mixed.Example.TEST/Path/Q?x=1#frag"
_POST = "http://p.test/api"


def _parse_plus_odd_children(url, body):
    items, children = parse_body(url, body)
    return items, children + [
        {"url": _MIXED, "callback": "detail"},
        {"url": _POST, "method": "POST", "callback": "detail", "body": "x=1&y=2"},
    ]


def test_parse_pass_fingerprints_match_urltools(spark):
    pages = (
        cg.build_crawl_corpus(spark, cg.UNIT)
        .where((F.col("http_status") == 200) & (F.col("body_size") >= 64))
        .withColumn("seq", F.monotonically_increasing_id())
    )
    parsed = parse_pages(pages, _parse_plus_odd_children).persist()
    reqs = requests_of(parsed).collect()
    n_pages = pages.count()
    assert n_pages and len(reqs) > 2 * n_pages  # real children beyond the odd two
    for r in reqs:
        assert r["fp"] == fingerprint(r["method"], r["url"], r["body"])
        assert r["canon"] == canonical(r["url"])
    mixed = [r for r in reqs if r["url"] == _MIXED]
    assert len(mixed) == n_pages
    assert mixed[0]["canon"] == "http://mixed.example.test/Path/Q?x=1"
    assert mixed[0]["fp"] == fingerprint("GET", "http://mixed.example.test/Path/Q?x=1")
    post = [r for r in reqs if r["url"] == _POST]
    assert len(post) == n_pages
    assert post[0]["method"] == "POST" and post[0]["body"] == "x=1&y=2"
    assert post[0]["fp"] == fingerprint("POST", _POST, "x=1&y=2")
    assert post[0]["fp"] != fingerprint("POST", _POST, "")
    items = parsed.where("out_kind = 'item'").select("fp", "canon").collect()
    assert items and all(r["fp"] is None and r["canon"] is None for r in items)
    parsed.unpersist()


def test_fleet_handoff_drop_carries_parse_fingerprints(spark, workdir):
    fd = os.path.join(workdir, "fleet")
    engine = CrawlEngine(
        spark, cg.build_crawl_corpus(spark, cg.UNIT), os.path.join(fd, "worker0"),
        CrawlConfig(callbacks={"list": True, "detail": False}, default_budget=4),
        shard=(0, 2), fleet_dir=fd,
    )
    # every seed starts on worker 0, so children on worker 1's hosts export
    engine.seed(sim.make_seeds(cg.UNIT))
    while engine.handoff_exported == 0 and engine.step():
        pass
    drops = glob.glob(os.path.join(fd, "handoff", "to1", "*"))
    assert drops
    rows = spark.read.parquet(*drops).collect()
    assert rows
    for r in rows:
        assert r["fp"] == fingerprint(r["method"], r["url"], r["body"])
        assert r["canon"] == canonical(r["url"])
