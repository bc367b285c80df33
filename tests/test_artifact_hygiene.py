"""Artifact-hygiene guards.

Round 6's one process failure was a query shipped in ``BENCH_QUERIES``
without a committed local bench number (it turned out to cost 53% of the
driver bench). These tests make that class of drift mechanically
impossible: the committed artifacts must keep up with the code.

Mid-round escape hatch: a name freshly added to the registry or bench set
may be listed in ``ALLOW_NEW`` below until the end-of-round artifact
refresh — the diff adding it there is visible in review, unlike the
silent omission these tests exist to catch. ALLOW_NEW must be empty when
a round's final artifacts are committed.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Names added since the last committed artifact refresh (see module
# docstring). Keep empty at end of round.
ALLOW_NEW: set[str] = set()


def _latest(pattern: str) -> str | None:
    """Highest-round artifact matching pattern, by the _rNN number."""
    paths = glob.glob(os.path.join(ROOT, pattern))
    if not paths:
        return None

    def roundno(p: str) -> int:
        m = re.search(r"_r(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else -1

    return max(paths, key=roundno)


def test_every_bench_query_has_a_committed_local_number():
    import bench

    path = _latest("BENCH_r*_local.json")
    assert path, "no committed BENCH_r*_local.json artifact"
    with open(path) as fh:
        benched = set(json.load(fh)["queries"])
    missing = set(bench.BENCH_QUERIES) - benched - ALLOW_NEW
    assert not missing, (
        f"{sorted(missing)} are in BENCH_QUERIES but have no number in "
        f"{os.path.basename(path)} — bench them locally (median-of-3) and "
        f"refresh the artifact, or list them in ALLOW_NEW until round end"
    )


def test_bench_set_is_a_subset_of_the_registry():
    import bench

    import __spark_entry__ as entry

    stray = set(bench.BENCH_QUERIES) - set(entry.queries())
    assert not stray, f"BENCH_QUERIES names not in the registry: {sorted(stray)}"


def test_full_registry_oracle_artifact_is_current():
    import __spark_entry__ as entry

    path = _latest("ORACLE_r*.json")
    assert path, "no committed ORACLE_r*.json artifact"
    with open(path) as fh:
        doc = json.load(fh)
    n_registry = len(entry.queries())
    covered = doc.get("n_queries", 0) + len(ALLOW_NEW)
    if covered < n_registry:
        pytest.fail(
            f"registry has {n_registry} queries but {os.path.basename(path)} "
            f"covers {doc.get('n_queries')} — rerun "
            f"tools/check_oracle.py --json over the full registry, or list "
            f"the new names in ALLOW_NEW until round end"
        )
    assert doc.get("n_fail", 1) == 0, f"{path} records oracle failures"


def test_full_registry_sf01_oracle_artifact_is_current():
    """Standing bench-scale parity gate (VERDICT r8 item 7): the sf0.1
    sweep caught a float-snap bug the sf0.01 gate mathematically could
    not (~1e-6/value midpoint probability needs sf0.1 row counts to
    surface). Every round must commit a full-registry ORACLE_r{N}_sf01
    artifact from the SAME round as its sf0.01 one."""
    import __spark_entry__ as entry

    def roundno(p: str) -> int:
        return int(re.search(r"_r(\d+)", os.path.basename(p)).group(1))

    sf01 = _latest("ORACLE_r*_sf01.json")
    assert sf01, "no committed ORACLE_r*_sf01.json artifact"
    plain = [
        p
        for p in glob.glob(os.path.join(ROOT, "ORACLE_r*.json"))
        if "_sf01" not in os.path.basename(p)
    ]
    if plain:
        assert roundno(sf01) >= max(roundno(p) for p in plain), (
            f"{os.path.basename(sf01)} lags the sf0.01 artifact round — "
            f"rerun tools/check_oracle.py --json at /root/testdata/sf0.1"
        )
    with open(sf01) as fh:
        doc = json.load(fh)
    covered = doc.get("n_queries", 0) + len(ALLOW_NEW)
    assert covered >= len(entry.queries()), (
        f"{os.path.basename(sf01)} covers {doc.get('n_queries')} of "
        f"{len(entry.queries())} registered queries — rerun the sf0.1 sweep "
        f"or list the new names in ALLOW_NEW until round end"
    )
    assert doc.get("n_fail", 1) == 0, f"{sf01} records oracle failures"


def test_bench_drift_is_explained():
    """Round-over-round drift gate (VERDICT r8 item 1): the median
    per-query new/old ratio over the common set of the two latest
    committed local bench artifacts must stay ≤ 1.10 — a whole-session
    slowdown on UNTOUCHED queries is exactly what r8 shipped without an
    explanation. A genuine environmental/structural cause is allowed,
    but it must be written down: an ``"explained"`` note in the newer
    artifact (``SPARK_GRAFT_BENCH_NOTE`` when producing it) waives the
    gate visibly instead of silently."""
    paths = sorted(
        glob.glob(os.path.join(ROOT, "BENCH_r*_local.json")),
        key=lambda p: int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)),
    )
    if len(paths) < 2:
        pytest.skip("fewer than two local bench artifacts")
    with open(paths[-2]) as fh:
        old = json.load(fh)["queries"]
    with open(paths[-1]) as fh:
        new_doc = json.load(fh)
    new = new_doc["queries"]
    common = [n for n in old if n in new and old[n] > 0]
    assert common, "no common queries between the two latest bench artifacts"
    ratios = sorted(new[n] / old[n] for n in common)
    med = ratios[len(ratios) // 2]
    if med > 1.10 and "explained" not in new_doc:
        pytest.fail(
            f"median per-query ratio {med:.3f} over {len(common)} common "
            f"queries between {os.path.basename(paths[-2])} and "
            f"{os.path.basename(paths[-1])} exceeds 1.10 with no "
            f"'explained' note — attribute the drift (cold/warm split is "
            f"in the artifact) and re-emit with SPARK_GRAFT_BENCH_NOTE"
        )


def test_bench_single_query_movers_are_rebenched_or_explained():
    """Per-query mover gate (VERDICT r9 item 1): the median-only drift
    gate let a 1.95x single-query mover ship, contradicting the standing
    hiccup policy ("inspect movers >1.5x and rerun"). Now any common
    query whose committed median moved >1.5x round-over-round must
    either appear in the artifact's ``rebenched`` list (bench.py re-ran
    it, so the number already voted down a one-off hiccup) or carry a
    note in ``explained_queries`` (a genuine, attributed movement)."""
    paths = sorted(
        glob.glob(os.path.join(ROOT, "BENCH_r*_local.json")),
        key=lambda p: int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)),
    )
    if len(paths) < 2:
        pytest.skip("fewer than two local bench artifacts")
    with open(paths[-2]) as fh:
        old = json.load(fh)["queries"]
    with open(paths[-1]) as fh:
        new_doc = json.load(fh)
    if "rebenched" not in new_doc:
        pytest.skip("latest artifact predates the per-query mover policy")
    new = new_doc["queries"]
    ok = set(new_doc["rebenched"]) | set(new_doc.get("explained_queries", {}))
    movers = [
        n for n in old
        if n in new and old[n] > 0 and new[n] / old[n] > 1.5 and n not in ok
    ]
    assert not movers, (
        f"common queries moved >1.5x vs {os.path.basename(paths[-2])} without "
        f"re-run or explanation: "
        f"{ {n: (old[n], new[n]) for n in sorted(movers)} } — bench.py "
        f"re-runs movers automatically on a full run; for genuine movement "
        f"set SPARK_GRAFT_BENCH_QUERY_NOTES"
    )


def test_canary_baseline_is_best_of_last_three(monkeypatch):
    """Canary-gate hygiene (VERDICT r14 item 9): r14's 'slow'-status
    local artifact (produced on a ~1.18x degraded host) became the sole
    canary baseline for the NEXT driver run, silently loosening its
    session gate by the same factor. The canary must gate against the
    per-query BEST of the last 3 committed local artifacts at the sf,
    so one degraded-host artifact cannot relax the gate."""
    import bench

    arts = [
        {"sf": 0.1, "queries": {"q1_market_totals": 2.0, "dedup_exact": 1.0}},
        {"sf": 0.1, "queries": {"q1_market_totals": 1.0, "dedup_exact": 3.0}},
        {"sf": 0.01, "queries": {"q1_market_totals": 0.1}},  # other sf: ignored
    ]
    monkeypatch.setattr(bench, "_recent_local_artifacts", lambda n: arts[:n])
    base = bench._canary_baseline(0.1)
    assert base == {"q1_market_totals": 1.0, "dedup_exact": 1.0}
    assert bench._canary_baseline(0.5) is None


def test_recent_local_artifacts_skips_names_without_round(monkeypatch, tmp_path):
    """A ``BENCH_r*_local.json`` name without round digits (the glob
    matches e.g. ``BENCH_rc_local.json``) is skipped, not a crash, and the
    rest still come back highest round first."""
    import bench

    for name, sf in (("BENCH_r2_local.json", 0.2), ("BENCH_r10_local.json", 1.0),
                     ("BENCH_rc_local.json", 9.0)):
        (tmp_path / name).write_text(json.dumps({"sf": sf}))
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    assert [a["sf"] for a in bench._recent_local_artifacts(3)] == [1.0, 0.2]


def test_oracle_and_queries_expose_identical_name_sets():
    import __spark_entry__ as entry

    q = set(entry.queries())
    o = set(entry.oracle_sql())
    # Non-SQL-expressible ops may legitimately omit an oracle, but today
    # every registered query has one; if that changes, document the
    # exception here rather than letting names silently diverge.
    assert o == q, f"queries()/oracle_sql() diverge: {sorted(q ^ o)}"


def test_bench_session_canary_recorded():
    """Whole-session hiccup gate (VERDICT r10 item 2): any full local
    bench artifact produced after the canary policy landed must record
    the canary outcome — queries probed, per-attempt median ratios, and
    an ok/slow status — so a whole-session discard/proceed decision is a
    recorded gate. A 'slow' status is allowed only alongside an
    'explained' note (the same visible-waiver rule the drift gate uses)."""
    paths = sorted(
        glob.glob(os.path.join(ROOT, "BENCH_r*_local.json")),
        key=lambda p: int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)),
    )
    if not paths:
        pytest.skip("no local bench artifacts")
    with open(paths[-1]) as fh:
        doc = json.load(fh)
    if int(re.search(r"_r(\d+)", os.path.basename(paths[-1])).group(1)) < 11:
        pytest.skip("latest artifact predates the session-canary policy")
    canary = doc.get("canary")
    assert canary is not None, (
        f"{os.path.basename(paths[-1])} lacks a 'canary' record — produce "
        f"full artifacts with bench.py, which probes the session before the sweep"
    )
    assert canary.get("attempts"), "canary record has no attempt ratios"
    if canary.get("status") != "ok":
        assert "explained" in doc, (
            f"canary status {canary.get('status')!r} without an 'explained' "
            f"note — a knowingly-slow session must be visibly waived"
        )


def test_bench_end_ratio_recorded():
    """Mid-run degradation gate (VERDICT r11 item 2): the end-of-sweep
    canary re-probe (``bench.py`` ``end_ratio``) landed in commit
    0240995 but the committed r11 artifact predates it — from r12 on,
    every full local artifact must CARRY the field, so the "session
    stayed healthy through the sweep" claim is recorded evidence, not
    an inference from rebenched-mover counts."""
    paths = sorted(
        glob.glob(os.path.join(ROOT, "BENCH_r*_local.json")),
        key=lambda p: int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)),
    )
    if not paths:
        pytest.skip("no local bench artifacts")
    if int(re.search(r"_r(\d+)", os.path.basename(paths[-1])).group(1)) < 12:
        pytest.skip("latest artifact predates the end-ratio instrumentation")
    with open(paths[-1]) as fh:
        doc = json.load(fh)
    canary = doc.get("canary") or {}
    assert "end_ratio" in canary, (
        f"{os.path.basename(paths[-1])} lacks canary.end_ratio — produce "
        f"full artifacts with bench.py, which re-probes the canary set "
        f"after the sweep"
    )


def test_only_the_silver_helper_keys_on_application_id():
    """One silver abstraction: per-session caching keys on the Spark
    ``applicationId`` inside ``queries/helpers.py``'s ``@silver`` and
    nowhere else in the package. A second module reading it is a
    hand-rolled session cache; decorate the builder instead."""
    pkg = os.path.join(ROOT, "securities_pricing_data_pipeline_spark")
    allowed = os.path.join(pkg, "queries", "helpers.py")
    hits = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if path == allowed:
            continue
        with open(path, encoding="utf-8") as fh:
            hits += [
                f"{os.path.relpath(path, ROOT)}:{n}"
                for n, line in enumerate(fh, 1)
                if "applicationId" in line
            ]
    assert not hits, f"applicationId outside queries/helpers.py: {hits}"


def test_only_tables_builds_hadoop_filesystem_handles():
    """One table-IO layer: ``org.apache.hadoop.fs`` (FileSystem and Path
    handles for existence checks, staging and renames) is named in
    ``tables.py`` and nowhere else in the package. Call
    ``tables.fs_path`` or ``tables.table_exists`` instead."""
    pkg = os.path.join(ROOT, "securities_pricing_data_pipeline_spark")
    allowed = os.path.join(pkg, "tables.py")
    hits = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if path == allowed:
            continue
        with open(path, encoding="utf-8") as fh:
            hits += [
                f"{os.path.relpath(path, ROOT)}:{n}"
                for n, line in enumerate(fh, 1)
                if "org.apache.hadoop.fs" in line
            ]
    assert not hits, f"org.apache.hadoop.fs outside tables.py: {hits}"


def test_only_csv_source_reads_csv():
    """One landing-CSV reader: no package module other than
    ``sources/csv_source.py`` calls ``.csv(`` or sets
    ``columnNameOfCorruptRecord``, so batch and streaming ingest share one
    schema, dialect and ON_ERROR='CONTINUE' row skip. Read landing files
    with ``sources.csv_source.read_eod_csv``."""
    pkg = os.path.join(ROOT, "securities_pricing_data_pipeline_spark")
    allowed = os.path.join(pkg, "sources", "csv_source.py")
    hits = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if path == allowed:
            continue
        with open(path, encoding="utf-8") as fh:
            hits += [
                f"{os.path.relpath(path, ROOT)}:{n}"
                for n, line in enumerate(fh, 1)
                if ".csv(" in line or "columnNameOfCorruptRecord" in line
            ]
    assert not hits, f"CSV read outside sources/csv_source.py: {hits}"
