"""Registry-surface discipline for the op inventory.

``registry.py`` merges 20+ module QUERIES dicts; a duplicate op id across
modules would silently last-write-win without the merge-time guard.  These
tests pin the guard (round-9 verdict #7) and the dynamic-oracle degrade
path (round-9 ADVICE #4).
"""

from __future__ import annotations

import os

import pytest

from build_pipeline_with_apache_beam_spark import registry


def test_registry_no_duplicate_op_ids():
    """Every module's QUERIES keys are disjoint — and the merge FAILS
    LOUDLY (not last-write-wins) if a future module re-declares one."""
    seen: dict[str, str] = {}
    for mod in registry._modules():
        for k in mod.QUERIES:
            assert k not in seen, (
                f"op id {k!r} declared in both {seen[k]} and {mod.__name__}")
            seen[k] = mod.__name__
    # the guard itself: a synthetic collision must raise, proving the
    # queries() merge can never silently shadow an op
    class _Fake:
        __name__ = "fake_module"
        QUERIES = {next(iter(seen)): lambda s, d: None}

    orig = registry._modules
    registry._modules = lambda: orig() + [_Fake]  # type: ignore[assignment]
    try:
        with pytest.raises(ValueError, match="duplicate op ids"):
            registry.queries()
    finally:
        registry._modules = orig


def test_oracle_sql_degrades_when_dynamic_data_absent(monkeypatch, capsys):
    """With the oracle sf dir pointed somewhere without testdata, the
    data-dependent oracle entries are skipped with a stderr note instead
    of crashing every caller (round-9 ADVICE #4)."""
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", "/nonexistent/sfX")
    out = registry.oracle_sql()
    # static oracles still present
    assert "flagship_q3_topk_revenue" in out
    # the codebook-dependent pair degraded to rows-only
    assert "sim_ann_ivf_topk" not in out
    assert "corpus_semdedup" not in out
    err = capsys.readouterr().err
    assert "skipping dynamic oracles" in err
    assert "SPARK_GRAFT_ORACLE_SF_DIR" in err


def test_oracle_sql_complete_with_default_testdata(monkeypatch):
    """In the driver environment the dynamic entries ARE present."""
    if not os.path.exists("/root/testdata/sf0.01/embeddings.parquet"):
        pytest.skip("driver testdata absent")
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF_DIR", raising=False)
    out = registry.oracle_sql()
    assert "sim_ann_ivf_topk" in out
    assert "corpus_semdedup" in out
    assert "scan_parquet_rowgroup_profile" in out


def test_bench_baseline_sorts_by_round_number_and_controls_registered():
    """Round-11 advice: the movers baseline must pick the HIGHEST round
    artifact numerically (r100 after r99, not before), and every pinned
    noise-control op must exist in the registry."""
    import bench
    from build_pipeline_with_apache_beam_spark import registry as reg

    files = ["BENCH_local_r9.json", "BENCH_local_r100.json",
             "BENCH_local_r11.json", "BENCH_local_r2.json"]
    assert sorted(files, key=bench._round_no)[-1] == "BENCH_local_r100.json"
    missing = set(bench.CONTROL_OPS) - set(reg.queries())
    assert not missing, f"control ops absent from registry: {missing}"


def test_bench_round_parse_rejects_suffixed_variants():
    """Round-12 advice: a variant artifact like BENCH_local_r12_sf1.json
    must never outrank (or tie) the canonical BENCH_local_r12.json in
    baseline selection — only the exact canonical shape parses."""
    import bench

    assert bench._round_no("BENCH_local_r12.json") == 12
    assert bench._round_no("BENCH_local_r12_sf1.json") == -1
    assert bench._round_no("BENCH_local_r121.json") == 121
    assert bench._round_no("BENCH_local_rX.json") == -1


def test_operators_catalog_in_sync():
    """OPERATORS.md is generated from the live registry (round-12 verdict
    #8): the file must equal the generator's rendered text, so adding or
    renaming an op, or moving its definition (the source column), without
    regenerating the catalog fails the suite."""
    from tools.gen_operators_catalog import render

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "OPERATORS.md")
    assert os.path.exists(path), (
        "OPERATORS.md missing — run python tools/gen_operators_catalog.py")
    with open(path) as fh:
        text = fh.read()
    want = render()
    stale = [(a, b) for a, b in zip(text.splitlines(), want.splitlines())
             if a != b]
    assert text == want, (
        f"catalog out of sync — regenerate with gen_operators_catalog.py "
        f"(first differing rows: {stale[:3]})")


def test_bench_oracle_companion_ops_registered():
    """The bench two-bucket split (round-12 verdict #4) pins the exact
    ground-truth family by name — every pinned companion must exist in
    the registry, and the buckets must be disjoint from the controls'
    intent (no companion is a noise control)."""
    import bench

    live = set(registry.queries())
    missing = set(bench.ORACLE_COMPANION_OPS) - live
    assert not missing, f"companion ops absent from registry: {missing}"
    assert not set(bench.ORACLE_COMPANION_OPS) & set(bench.CONTROL_OPS)


def test_bench_final_line_is_the_per_query_kind(spark, sf_dir, monkeypatch,
                                                capsys):
    """The final stdout line carries ``"kind": "per_query"`` (the two lines
    above it share its metric name) and stays the last line."""
    import json

    import bench

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_OPS", "scalar_math_ops")
    bench.main()
    lines = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("{")]
    assert lines[-1]["kind"] == "per_query"
    assert set(lines[-1]["queries"]) == {"scalar_math_ops"}
    assert all("kind" not in ln for ln in lines[:-1])
