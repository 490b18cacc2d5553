"""Coverage-bundle invariants.

The verification driver hash-checks only the first 50 registry
entries (plans/bundles.py module docstring).  These tests pin:
- the registry's first 50 names are exactly DRIVER_WINDOW;
- the window + bundle membership covers EVERY registered query;
- each bundle member's declared column list matches the member's
  actual result schema (the null-fill alignment depends on it);
- a bundle's rows equal the concatenation of its members' rows.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def test_driver_window_is_first_50():
    from dump1090_postgis_spark.plans import DRIVER_WINDOW, full_registry

    names = list(full_registry())
    assert len(DRIVER_WINDOW) == 50
    assert names[:50] == DRIVER_WINDOW


def test_window_covers_full_surface():
    from dump1090_postgis_spark.plans import DRIVER_WINDOW, full_registry
    from dump1090_postgis_spark.plans.bundles import bundle_members

    names = set(full_registry())
    covered = set(DRIVER_WINDOW)
    for bundle, members in bundle_members().items():
        assert bundle in DRIVER_WINDOW, bundle
        covered.update(members)
    uncovered = names - covered
    assert not uncovered, f"queries outside the driver window: {uncovered}"


def test_every_bundle_member_stays_registered():
    from dump1090_postgis_spark.plans import full_registry
    from dump1090_postgis_spark.plans.bundles import bundle_members

    reg = full_registry()
    for bundle, members in bundle_members().items():
        for m in members:
            assert m in reg, f"{bundle} member {m} dropped from registry"


@pytest.mark.parametrize("bundle", [
    "flt_dates_bundle",
    "session_bundle",
    "dedup_pairs_bundle",
    "text_metrics_bundle",
])
def test_bundle_concatenates_members(spark, bundle):
    from dump1090_postgis_spark.plans import full_registry
    from dump1090_postgis_spark.plans.bundles import bundle_members

    reg = full_registry()
    fn, _sql = reg[bundle]
    out = fn(spark, SF)
    got = {r["variant"]: 0 for r in out.select("variant").distinct().collect()}
    counts = {
        r["variant"]: r["n"]
        for r in out.groupBy("variant").count().withColumnRenamed("count", "n").collect()
    }
    for m in bundle_members()[bundle]:
        mfn, _ = reg[m]
        assert counts.get(m) == mfn(spark, SF).count(), m
    assert set(got) == set(bundle_members()[bundle])


def test_member_column_declarations_match_schemas(spark):
    """The null-fill alignment in _bundle_fn raises on drift; driving
    every bundle's plan build (no execution) exercises that assert."""
    from dump1090_postgis_spark.plans.bundles import bundle_registry

    for name, (fn, sql) in bundle_registry().items():
        df = fn(spark, SF)  # plan build runs the drift assertion
        assert df.columns[0] == "variant", name
        sql = sql() if callable(sql) else sql  # lazy-oracle convention
        assert sql.count("UNION ALL") >= 1, name


def test_bundle_error_payload_names_failing_member(spark):
    """Red-bundle triage: when one member's plan build raises, the
    bundle error must carry that member's name so a red driver row is
    attributable without a per-member bisect."""
    import pytest

    from dump1090_postgis_spark.plans import bundles as bmod

    members = [("prj2_json_extract_cast", "tq", ["boom"])]  # wrong declared cols
    schema = [("boom", "bigint")]
    fn = bmod._bundle_fn(members, schema)
    with pytest.raises(RuntimeError, match="bundle member 'prj2_json_extract_cast'"):
        fn(spark, SF)


def test_registry_degrades_failing_oracle_builder(monkeypatch, tmp_path):
    """A callable SQL slot whose builder raises (missing SF_DIR,
    over-budget artifact pass) must degrade THAT entry to SQL=None —
    never break the whole registry build for unrelated consumers."""
    from dump1090_postgis_spark.plans import full_registry

    monkeypatch.setenv("SF_DIR", str(tmp_path / "nope"))
    reg = full_registry()
    assert len(reg) >= 155
    fn, sql = reg["dedup_minhash_lsh_fast"]
    assert sql is None and callable(fn)
    # unrelated entries keep their oracles
    assert isinstance(reg["flt1_value_band"][1], str)


def test_banded_artifact_python_pass_is_row_bounded(tmp_path):
    """ensure_banded_artifact must refuse the single-threaded pure-
    Python derivation past max_rows (the Spark query materializes the
    artifact at those scales) instead of hanging registry builds."""
    import pytest as _pytest

    from dump1090_postgis_spark.datapipe.artifact_io import verify
    from dump1090_postgis_spark.datapipe.lsh_artifact import (
        banded_witness,
        ensure_banded_artifact,
    )

    sf = "/root/testdata/sf0.01"
    out = str(tmp_path / "banded")
    with _pytest.raises(RuntimeError, match="pure-Python guard"):
        ensure_banded_artifact(sf, out, max_rows=10)
    # within budget: materializes, publishes its witness, and is
    # idempotent
    assert ensure_banded_artifact(sf, out) is True
    assert verify(None, out, banded_witness(sf))["documents"] == 500
    assert ensure_banded_artifact(sf, out) is False


def test_oracle_builder_degradation_contract(monkeypatch):
    """Lazy oracle builders (callable SQL slots): ENVIRONMENTAL
    failures (OSError / RuntimeError — missing SF_DIR, over-budget
    pure-Python artifact pass) degrade THAT entry to a rows-only check
    and are recorded in the per-build degraded map for visible
    reporting; any other exception is a coding bug and fails the
    registry build loudly (round-8 advisor: a blanket except silently
    removed value-hash verification)."""
    import dump1090_postgis_spark.plans as plans
    from dump1090_postgis_spark.plans import datapipe_queries

    def _noop_query(spark, sf_dir):
        raise AssertionError("never run in this test")

    def _env_fail():
        raise RuntimeError("artifact over budget")

    orig_registry = dict(datapipe_queries.REGISTRY)
    reg = dict(orig_registry)
    reg["_probe_env_fail"] = (_noop_query, _env_fail)
    monkeypatch.setattr(datapipe_queries, "REGISTRY", reg)

    built, degraded = plans.full_registry_with_degraded()
    assert built["_probe_env_fail"][1] is None
    assert "RuntimeError" in degraded["_probe_env_fail"]
    # untouched entries keep their oracles
    assert isinstance(built["dedup_exact"][1], str)

    # the returned map is a per-build VALUE (round-9 advisor): an
    # interleaved rebuild must not swap the record under the caller
    snapshot = dict(degraded)
    monkeypatch.setattr(datapipe_queries, "REGISTRY", dict(orig_registry))
    plans.full_registry()  # rebuild without the probe entry
    assert degraded == snapshot and "_probe_env_fail" in degraded

    def _bug():
        raise TypeError("a coding bug in a builder")

    reg2 = dict(datapipe_queries.REGISTRY)
    reg2["_probe_bug"] = (_noop_query, _bug)
    monkeypatch.setattr(datapipe_queries, "REGISTRY", reg2)
    import pytest as _pytest

    with _pytest.raises(TypeError):
        plans.full_registry()

    # a rebuild without the probes clears the degraded record
    monkeypatch.setattr(
        datapipe_queries, "REGISTRY", dict(datapipe_queries.REGISTRY)
    )
