"""Scaling-evidence harness units: the Amdahl fit and the BASELINE.md
renderer (pure Python — no Spark session)."""

import json
import os


def _leg(pair, cores, sec, pages=1_000_000):
    return {
        "pair": pair, "cores": cores, "sec": sec, "pages": pages,
        "rounds": 5, "pages_per_sec": pages / sec,
    }


def _cx(lo, hi, legs, effs):
    return {
        "lo": lo, "hi": hi, "legs": legs,
        "pair_efficiencies": effs,
        "median_efficiency": sorted(effs)[len(effs) // 2],
        "spread": round(max(effs) - min(effs), 3),
        "calibration_probes_sec": [3.0, 3.1, 3.2],
        "probe_drift_ratio": 1.07,
        "verdict": "not_met_decidable",
    }


def test_amdahl_fit_recovers_parameters():
    """Fit on synthetic walls generated from known (B, C) must recover them."""
    import bench

    B, C = 70.0, 230.0
    legs = [
        _leg(0, 2, B + C / 2), _leg(0, 8, B + C / 8),
        _leg(1, 2, B + C / 2), _leg(1, 8, B + C / 8),
    ]
    got_B, got_C, got_b = bench._amdahl_fit(_cx(2, 8, legs, [0.45, 0.45]))
    assert abs(got_B - B) < 1e-6
    assert abs(got_C - C) < 1e-6
    assert abs(got_b - B / 5) < 1e-6


def test_quiet_window_gate():
    """--scaling must refuse to record from a degraded machine window
    (round-3 verdict #7); the force flag and quiet windows pass."""
    import bench

    assert bench.quiet_window_refusal(2.3) is None
    assert bench.quiet_window_refusal(bench.QUIET_PROBE_MAX_SEC) is None
    ref = bench.quiet_window_refusal(4.5)
    assert ref and ref["refused"] and ref["calibration_probe_sec"] == 4.5
    assert "SPARK_GRAFT_SCALING_FORCE" in ref["hint"]
    assert bench.quiet_window_refusal(4.5, force=True) is None


def test_headline_window_stamp_and_wait():
    """Round-4 verdict #3: the headline bench probes FIRST, retries into a
    quiet window (bounded), and stamps the verdict so BENCH_rNN.json
    cross-round comparisons are mechanical."""
    import bench

    # stamp: quiet vs degraded read off the LAST probe (the run's window)
    s = bench.headline_window_stamp([2.4])
    assert s["window_verdict"] == "quiet" and s["probe_attempts"] == 1
    s = bench.headline_window_stamp([4.1, 3.8, 2.2])
    assert s["window_verdict"] == "quiet"
    assert s["opening_probe_sec"] == 2.2 and s["probe_series_sec"] == [4.1, 3.8, 2.2]
    s = bench.headline_window_stamp([4.1, 5.0])
    assert s["window_verdict"] == "degraded"

    # wait loop: degraded → sleeps and re-probes; quiet → returns at once;
    # bounded → runs anyway after max_attempts (degraded stamp, never a hang)
    seq = iter([4.5, 3.9, 2.1, 1.8])
    slept = []
    probes = bench.await_quiet_window(
        max_attempts=8, sleep_sec=7, probe_fn=lambda: next(seq),
        sleep_fn=slept.append,
    )
    assert probes == [4.5, 3.9, 2.1] and slept == [7, 7]
    always_bad = iter([9.0] * 10)
    probes = bench.await_quiet_window(
        max_attempts=3, probe_fn=lambda: next(always_bad), sleep_fn=lambda s: None
    )
    assert probes == [9.0, 9.0, 9.0]
    assert bench.headline_window_stamp(probes)["window_verdict"] == "degraded"

    # mid-run drift demotion: quiet opening + degraded closing -> 'drifted';
    # quiet closing keeps 'quiet'; 'degraded' is never upgraded
    quiet = bench.headline_window_stamp([2.4])
    assert bench.stamp_drift(quiet, 3.4)["window_verdict"] == "drifted"
    assert bench.stamp_drift(quiet, 2.6)["window_verdict"] == "quiet"
    bad = bench.headline_window_stamp([9.0])
    assert bench.stamp_drift(bad, 2.0)["window_verdict"] == "degraded"


def test_bench_scaling_refuses_in_noisy_window(tmp_path, monkeypatch):
    """End-to-end refusal path: a high probe makes bench_scaling return the
    refusal dict without running any leg or touching the store."""
    import bench

    monkeypatch.setattr(bench, "calibration_probe", lambda: 9.9)
    monkeypatch.setattr(bench, "_STORE_PATH", str(tmp_path / "BENCH" / "s.json"))
    monkeypatch.delenv("SPARK_GRAFT_SCALING_FORCE", raising=False)

    def boom(*a, **k):  # no session may ever be built on refusal
        raise AssertionError("refusal must short-circuit before any leg")

    monkeypatch.setattr(bench, "make_session", boom)
    out = bench.bench_scaling()
    assert out["refused"] and out["calibration_probe_sec"] == 9.9
    assert not os.path.exists(tmp_path / "BENCH" / "s.json")


def test_flap_guard_demotes_decision():
    """An undecidable completed run must not replace a decidable (or met)
    primary; every other combination replaces as before."""
    import bench

    und = {"verdict": "not_met_undecidable"}
    dec = {"verdict": "not_met_decidable"}
    met = {"verdict": "met"}
    assert bench.flap_guard_demotes(dec, und)
    assert bench.flap_guard_demotes(met, und)
    assert not bench.flap_guard_demotes(None, und)
    assert not bench.flap_guard_demotes(und, und)   # both noisy: replace
    assert not bench.flap_guard_demotes(dec, dec)   # new run is decidable
    assert not bench.flap_guard_demotes(dec, met)


def test_bench_scaling_flap_guard_archives_midrun_flap(tmp_path, monkeypatch):
    """End-to-end store path: the opening probe passes the gate, the window
    degrades mid-run (probe series drifts past 1.3x), and the completed
    undecidable run lands in <key>_history while the stored decidable
    primary survives."""
    import bench

    prev = _cx(8, 32, [_leg(0, 8, 100.0), _leg(0, 32, 40.0)], [0.625])
    store_path = tmp_path / "BENCH" / "s.json"
    os.makedirs(tmp_path / "BENCH")
    store_path.write_text(json.dumps({"crawl_8to32": prev}))
    monkeypatch.setattr(bench, "_STORE_PATH", str(store_path))
    monkeypatch.setattr(bench, "_write_baseline_md", lambda store: None)
    monkeypatch.setenv("SPARK_GRAFT_SCALING_PAIRS", "1")
    monkeypatch.delenv("SPARK_GRAFT_SCALING_APPEND", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SCALING_FORCE", raising=False)
    # probe: quiet at the gate, then flaps between legs -> drift 3.6x
    probes = iter([2.5, 2.5, 9.0])
    monkeypatch.setattr(bench, "calibration_probe", lambda: next(probes))

    class _FakeSC:
        def setLogLevel(self, lvl):
            pass

    class _FakeSession:
        sparkContext = _FakeSC()

        def stop(self):
            pass

    monkeypatch.setattr(bench, "make_session", lambda cores, tag: _FakeSession())
    monkeypatch.setattr(bench, "ensure_bench_corpus", lambda spark, spec: "/nope")
    walls = iter([80.0, 60.0])  # pair eff (80/60)/4 = 0.333 -> not met

    def fake_crawl(spark, path, seeds, budget):
        sec = next(walls)
        return {"sec": sec, "pages": 10**6, "rounds": 5,
                "pages_per_sec": 10**6 / sec}

    monkeypatch.setattr(bench, "run_crawl", fake_crawl)
    out = bench.bench_scaling()
    assert out["flap_archived"]["key"] == "crawl_8to32"
    # the reported numbers are the surviving primary's
    assert out["crawl_scaling_efficiency"] == prev["median_efficiency"]
    stored = json.loads(store_path.read_text())
    assert stored["crawl_8to32"] == prev
    hist = stored["crawl_8to32_history"]
    assert hist["verdict"] == "not_met_undecidable"
    assert hist["pair_efficiencies"] == [0.333]


def test_amdahl_fit_derives_rounds_from_legs():
    import bench

    B, C = 70.0, 230.0
    legs = [
        dict(_leg(0, 2, B + C / 2), rounds=10),
        dict(_leg(0, 8, B + C / 8), rounds=10),
    ]
    _, _, b = bench._amdahl_fit(_cx(2, 8, legs, [0.45]))
    assert abs(b - B / 10) < 1e-6


def test_write_baseline_md_renders_unknown_crawl_keys(tmp_path, monkeypatch):
    """Non-standard SPARK_GRAFT_SCALING_CORES runs (e.g. 4,16) must appear in
    BASELINE.md instead of being silently stored-but-unrendered (ADVICE)."""
    import bench

    store = {
        "crawl_4to16": _cx(4, 16, [_leg(0, 4, 120.0), _leg(0, 16, 70.0)], [0.43]),
    }
    monkeypatch.setattr(bench, "_STORE_PATH", str(tmp_path / "BENCH" / "s.json"))
    os.makedirs(tmp_path / "BENCH")
    bench._write_baseline_md(store)
    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    assert "Additional interleaved protocol `crawl_4to16`" in md
    assert "local[4] ⇄ local[16]" in md


def test_write_baseline_md_renders_roundcost_s8(tmp_path, monkeypatch):
    """A stored --roundcost run must render as study S8 with its phase
    breakdown and the previous run as provenance context."""
    import bench

    rc = {
        "cores": 8,
        "profiles": [{"wall_s": w} for w in (6.3, 3.5, 2.7, 2.2, 1.8, 1.8)],
        "median_round_s": 2.2,
        "phase_medians_s": {"head_s": 0.4, "plan_s": 0.5, "wave_s": 1.0,
                            "post_s": 0.01},
        "calibration_probe_sec": 2.8,
    }
    store = {
        "roundcost": rc,
        "roundcost_history": [dict(rc, median_round_s=5.2,
                                   calibration_probe_sec=2.5)],
    }
    monkeypatch.setattr(bench, "_STORE_PATH", str(tmp_path / "BENCH" / "s.json"))
    os.makedirs(tmp_path / "BENCH")
    bench._write_baseline_md(store)
    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    assert "S8" in md and "b = 2.20 s/round" in md
    assert "Previous recorded run: 5.20 s/round" in md


def test_write_baseline_md_renders_hotbucket_s9(tmp_path, monkeypatch):
    """A stored --hotbucket study must render as S9 with the per-config
    table and both overhead ratios."""
    import bench

    store = {
        "hotbucket": {
            "corpus": {"unique_docs": 4000, "clone_docs": 800, "cap": 256},
            "runs": [
                {"config": "off", "max_bucket_rows": None, "wall_s": 2.5,
                 "pairs": 319600, "hot_buckets": 0, "salt_factors": {}},
                {"config": "free", "max_bucket_rows": 4800, "wall_s": 2.2,
                 "pairs": 319600, "hot_buckets": 0, "salt_factors": {}},
                {"config": "salted", "max_bucket_rows": 256, "wall_s": 5.3,
                 "pairs": 319600, "hot_buckets": 8,
                 "salt_factors": {"0": 4}},
            ],
            "pairs": 319600,
            "free_overhead_ratio": 0.88,
            "salted_overhead_ratio": 2.12,
            "calibration_probe_sec": 2.4,
        }
    }
    monkeypatch.setattr(bench, "_STORE_PATH", str(tmp_path / "BENCH" / "s.json"))
    os.makedirs(tmp_path / "BENCH")
    bench._write_baseline_md(store)
    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    assert "S9" in md and "IDENTICAL 319600 verified" in md
    assert "costs 0.88×" in md and "costs\n2.12×" in md.replace("**", "")


def test_write_baseline_md_renders_all_protocols(tmp_path, monkeypatch):
    """The renderer must compose every stored protocol and the fit verdict."""
    import bench

    store = {
        "crawl_8to32": _cx(
            8, 32, [_leg(0, 8, 100.0), _leg(0, 32, 90.0)], [0.28]
        ),
        "crawl_2to8": _cx(
            2, 8, [_leg(0, 2, 185.0), _leg(0, 8, 98.75)], [0.47]
        ),
        "crawl_8to32_xxl": _cx(
            8, 32, [_leg(0, 8, 160.0, 5_000_000), _leg(0, 32, 62.0, 5_000_000)],
            [0.65],
        ),
    }
    monkeypatch.setattr(bench, "_STORE_PATH", str(tmp_path / "BENCH" / "s.json"))
    os.makedirs(tmp_path / "BENCH")
    (tmp_path / "BENCH" / "s.json").write_text(json.dumps(store))
    bench._write_baseline_md(store)
    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    assert "Protocol A (primary)" in md
    assert "Protocol A2 (saturation)" in md
    assert "Protocol A3 (round size)" in md
    assert "Amdahl fit" in md
    assert "would need rounds of" in md
    # fit on the synthetic 2->8 walls: B=70, C=230 -> per-page c and the
    # required round size must appear as a sane positive number
    assert "B ≈ 70 s" in md


def test_write_baseline_md_renders_s7_without_saturation_fit(tmp_path, monkeypatch):
    """S7 cross-checks b against the 2⇄8 fit; with no `crawl_2to8` run in
    the store the sentence must still read correctly (ADVICE low)."""
    import bench

    store = {
        "crawl_8to32": _cx(8, 32, [_leg(0, 8, 100.0), _leg(0, 32, 90.0)], [0.28]),
        "crawl_8to32_xxl": _cx(
            8, 32, [_leg(0, 8, 160.0, 5_000_000), _leg(0, 32, 62.0, 5_000_000)],
            [0.65],
        ),
    }
    monkeypatch.setattr(bench, "_STORE_PATH", str(tmp_path / "BENCH" / "s.json"))
    os.makedirs(tmp_path / "BENCH")
    bench._write_baseline_md(store)
    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    assert "### S7" in md
    assert "fit's the" not in md
    assert "(1) both b values are to be checked against the 2⇄8 Amdahl fit" in md
    store["crawl_2to8"] = _cx(2, 8, [_leg(0, 2, 185.0), _leg(0, 8, 98.75)], [0.47])
    bench._write_baseline_md(store)
    md = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    assert "(1) both b values sit near the 2⇄8 Amdahl fit's ~14.0 s/round" in md
