"""Pins for the bench output contract and the per-draw pipeline reset
(round-10 judge tasks 1-2).

The driver records only the LAST ~2 kB of bench output; round 10's
single all-keys JSON line outgrew that window and BENCH_r10.json came
back ``parsed: null``. bench.py now emits a compact legacy record as
the FINAL line — these tests pin that the record stays under the
capture window with the real bench query set, that its keys keep
their legacy semantics (value/queries = draw 1 exactly), and that the
multi-draw medians come from every draw. reset_shared_pipeline is
pinned to actually drop the memo and reclaim owned scratch dirs, so
bench draws 2+ re-execute the streaming pipeline instead of timing a
merge-on-read of draw 1's state.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from bench import build_records  # noqa: E402

# the driver's observed capture window is 2000 chars (BENCH_r09 tail
# length); leave headroom for a trailing newline + any stray character
CAPTURE_WINDOW = 2000
HEADROOM = 200


def _bench_names() -> tuple[set[str], set[str]]:
    from financial_tracker_etl_spark.queries import registry

    reg = registry()
    return (
        {n for n, s in reg.items() if s.bench},
        {n for n, s in reg.items() if s.bench_tail},
    )


def test_legacy_record_fits_capture_window():
    headline, tail = _bench_names()
    names = sorted(headline | tail)
    # worst realistic case: every timing needs maximal float width
    draws = [{n: 123.456 for n in names} for _ in range(3)]
    legacy, _ = build_records(
        headline,
        tail,
        draws,
        sf=0.1,
        loadavg_at_launch=[11.76, 10.99, 10.55],
        loadavg_per_draw=[[11.76, 10.99, 10.55]] * 3,
        loadavg_at_end=[11.76, 10.99, 10.55],
        steal_pct_per_draw=[23.456, 23.456, 23.456],
        cpus_effective=32,
    )
    line = json.dumps(legacy)
    assert len(line) < CAPTURE_WINDOW - HEADROOM, (
        f"legacy bench line is {len(line)} chars; it must stay well "
        f"under the driver's {CAPTURE_WINDOW}-char tail capture or "
        "BENCH_rN.json comes back parsed: null again (round 10)"
    )
    # the driver must be able to parse it back to the legacy keys
    parsed = json.loads(line)
    for key in (
        "metric",
        "value",
        "unit",
        "queries",
        "tail_total_sec",
        "sf",
        "headline_median_total_sec",
        "tail_median_total_sec",
    ):
        assert key in parsed
    # round-16 judge task 1: the effective parallelism must be in the
    # driver-captured final line so the cross-core-count scaling runs
    # are self-explaining (suspect_cpus_ignored clears mechanically)
    assert parsed["cpus_effective"] == 32
    # the bulky per-query median/min dicts belong to the extended
    # record only — reintroducing them here is how round 10 broke
    assert "queries_median" not in parsed
    assert "queries_min" not in parsed


def test_steal_annotation():
    from bench import steal_pct

    # 50 of 1000 elapsed jiffies stolen → 5%
    assert steal_pct((100, 10_000), (150, 11_000)) == 5.0
    # unavailable or zero-elapsed snapshots → None, never a crash
    assert steal_pct(None, (1, 2)) is None
    assert steal_pct((1, 2), None) is None
    assert steal_pct((1, 100), (1, 100)) is None
    # the records carry the signal: max per-draw steal in the compact
    # final line, the full series in the extended record
    legacy, extended = build_records(
        {"a"},
        set(),
        [{"a": 1.0}, {"a": 1.0}],
        sf=0.1,
        loadavg_at_launch=[0.0, 0.0, 0.0],
        loadavg_per_draw=[[0.0, 0.0, 0.0]] * 2,
        loadavg_at_end=[0.0, 0.0, 0.0],
        steal_pct_per_draw=[0.5, 7.25],
    )
    assert legacy["steal_pct_max"] == 7.25
    assert extended["steal_pct_per_draw"] == [0.5, 7.25]
    # None-only series (non-Linux) degrades to a null scalar
    legacy, _ = build_records(
        {"a"},
        set(),
        [{"a": 1.0}],
        sf=0.1,
        loadavg_at_launch=[0.0, 0.0, 0.0],
        loadavg_per_draw=[[0.0, 0.0, 0.0]],
        loadavg_at_end=[0.0, 0.0, 0.0],
        steal_pct_per_draw=[None],
    )
    assert legacy["steal_pct_max"] is None


def test_records_keep_draw1_and_median_semantics():
    headline = {"a", "b"}
    tail = {"c"}
    draws = [
        {"a": 1.0, "b": 2.0, "c": 3.0},
        {"a": 5.0, "b": 2.0, "c": 1.0},
        {"a": 9.0, "b": 2.0, "c": 2.0},
    ]
    legacy, extended = build_records(
        headline,
        tail,
        draws,
        sf=0.01,
        loadavg_at_launch=[0.0, 0.0, 0.0],
        loadavg_per_draw=[[0.0, 0.0, 0.0]] * 3,
        loadavg_at_end=[0.0, 0.0, 0.0],
    )
    # legacy value/queries are DRAW 1 alone (cross-round comparability)
    assert legacy["value"] == 3.0
    assert legacy["queries"] == draws[0]
    assert legacy["tail_total_sec"] == 3.0
    # medians span all draws: a=5.0, b=2.0 → headline median total 7.0
    assert legacy["headline_median_total_sec"] == 7.0
    assert legacy["headline_min_total_sec"] == 3.0
    assert legacy["tail_median_total_sec"] == 2.0
    assert extended["queries_median"] == {"a": 5.0, "b": 2.0, "c": 2.0}
    assert extended["queries_min"] == {"a": 1.0, "b": 2.0, "c": 1.0}


def test_owned_work_dirs_reaped_at_exit():
    """Self-allocated pipeline scratch dirs are reaped when the
    interpreter exits; caller-owned dirs are never registered."""
    from financial_tracker_etl_spark.streaming import pipeline as pl

    d = tempfile.mkdtemp(prefix="ftes_reap_test_")
    pl._OWNED_WORK_DIRS.add(d)
    pl._reap_owned_work_dirs()
    assert not os.path.exists(d)
    assert not pl._OWNED_WORK_DIRS


def test_reset_shared_pipeline_drops_memo_and_owned_dirs():
    from financial_tracker_etl_spark.streaming import pipeline as pl

    owned = tempfile.mkdtemp(prefix="ftes_reset_test_")
    unowned = tempfile.mkdtemp(prefix="ftes_reset_test_caller_")
    # snapshot-and-restore the module-level memo instead of requiring
    # it empty: any earlier test in the same process that touched
    # shared_pipeline leaves an entry, which made this test
    # order-dependent (round-11 ADVICE low)
    saved_cache = dict(pl._CACHE)
    saved_owned = set(pl._OWNED_WORK_DIRS)
    pl._CACHE.clear()
    try:
        pl._CACHE[("app", "/sf/a")] = pl.PipelineResult({}, None, 1, owned)
        # a result whose caller passed its own work_dir records None
        # and must NOT have its directory reclaimed by the reset
        pl._CACHE[("app", "/sf/b")] = pl.PipelineResult({}, None, 1, None)
        pl.reset_shared_pipeline()
        assert not pl._CACHE
        assert not os.path.exists(owned)
        assert os.path.exists(unowned)
    finally:
        pl._CACHE.clear()
        pl._CACHE.update(saved_cache)
        pl._OWNED_WORK_DIRS.clear()
        pl._OWNED_WORK_DIRS.update(saved_owned)
        for d in (owned, unowned):
            if os.path.exists(d):
                os.rmdir(d)


def test_sidecar_path_never_clobbers_committed_record():
    """Round-11 judge task 3: a bench run must leave `git status`
    clean — the per-run sidecar goes to a gitignored .latest path,
    and the committed BENCH_LOCAL.json record population is only ever
    updated deliberately."""
    import pathlib

    from bench import SIDECAR_NAME

    assert SIDECAR_NAME == "BENCH_LOCAL.latest.json"
    assert SIDECAR_NAME != "BENCH_LOCAL.json"
    root = pathlib.Path(__file__).resolve().parents[1]
    gitignore = (root / ".gitignore").read_text().splitlines()
    assert SIDECAR_NAME in gitignore


def test_ui_flag_rejects_falsey_spellings(monkeypatch):
    """SPARK_GRAFT_UI=0 must NOT enable the UI (round-11 ADVICE low:
    raw env truthiness treated any non-empty string as opt-in)."""
    from financial_tracker_etl_spark.session import _ui_enabled

    for val in ("0", "false", "False", "no", "off", "", " "):
        monkeypatch.setenv("SPARK_GRAFT_UI", val)
        assert not _ui_enabled(), val
    monkeypatch.delenv("SPARK_GRAFT_UI")
    assert not _ui_enabled()
    for val in ("1", "true", "yes"):
        monkeypatch.setenv("SPARK_GRAFT_UI", val)
        assert _ui_enabled(), val


def test_codegen_class_cache_sized_for_multi_query_sessions(spark):
    """The 100-entry default codegen class cache thrashes across a
    bench draw's ~19 queries, forcing Janino recompile + cold JIT of
    every query's generated classes on every draw — measured as the
    round-11/12 pagerank bench-vs-isolated gap (6.1-6.2 s in-context
    at the default vs 3.8-4.6 s at 5000; BASELINE.md round-12 A/B).
    Static conf, so it must come from the session factory."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000"


def test_static_conf_mismatch_warns(spark):
    """Round-12 ADVICE low: a pre-existing SparkSession silently
    ignores the static codegen-cache conf, so get_spark() must compare
    the live value and WARN on mismatch. Pin both directions using the
    real session (matching value → silent) and a stub whose conf.get
    returns the 100-entry default (mismatch → RuntimeWarning naming the
    knob)."""
    import warnings

    from financial_tracker_etl_spark.session import _warn_if_static_conf_ignored

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # matching value must not warn
        _warn_if_static_conf_ignored(spark)

    class _Conf:
        def get(self, key):
            assert key == "spark.sql.codegen.cache.maxEntries"
            return "100"

    class _Stub:
        conf = _Conf()

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _warn_if_static_conf_ignored(_Stub())
    assert len(caught) == 1 and issubclass(caught[0].category, RuntimeWarning)
    assert "codegen.cache.maxEntries" in str(caught[0].message)
