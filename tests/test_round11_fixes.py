"""Round-11 adversarial-review regressions: project-loader error paths
(VERDICT r10 item 7 — one focused pass over loader error handling)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from dbt_fal_spark.project.loader import load_project

FIXTURE = Path(__file__).parent / "fixtures" / "jaffle_spark"


def _copy_project(tmp_path: Path) -> Path:
    proj = tmp_path / "proj"
    shutil.copytree(FIXTURE, proj)
    return proj


def test_malformed_schema_yaml_names_the_file(tmp_path):
    """A schema.yml whose top level is a list (lost its `models:` header)
    previously died with an AttributeError traceback deep in the loader;
    now it's a ValueError naming the file and the expectation."""
    proj = _copy_project(tmp_path)
    bad = proj / "models" / "broken.yml"
    bad.write_text("- name: stg_orders\n- name: customers\n")
    with pytest.raises(ValueError, match=r"broken\.yml.*YAML mapping"):
        load_project(proj)


def test_duplicate_model_names_error(tmp_path):
    """Two model files sharing a stem previously let the later-scanned
    one silently replace the earlier (ambiguous ref targets); dbt-style
    behavior is a loud duplicate error naming both files."""
    proj = _copy_project(tmp_path)
    sub = proj / "models" / "sub"
    sub.mkdir()
    (sub / "customers.sql").write_text("select 1 as x")
    with pytest.raises(ValueError, match="duplicate model name 'customers'"):
        load_project(proj)
    (sub / "customers.sql").unlink()
    # python model colliding with a SQL model is the same error
    (sub / "customers.py").write_text("def model(dbt, session):\n    return None\n")
    with pytest.raises(ValueError, match="duplicate model name 'customers'"):
        load_project(proj)


def test_dunder_py_files_are_not_models(tmp_path):
    """__init__.py in a models dir is package plumbing, not a model —
    previously registered as a model named '__init__' that failed at
    run time."""
    proj = _copy_project(tmp_path)
    (proj / "models" / "__init__.py").write_text("")
    manifest = load_project(proj)
    assert not any(m.name == "__init__" for m in manifest.models.values())


def test_tests_attached_to_model_and_source_objects(tmp_path):
    """list_models()/list_sources() consumers enumerate per-node tests
    (reference: dbt_test.feature 'Source tests are present in context');
    previously DbtModel had no .tests and DbtSource.tests stayed empty."""
    proj = _copy_project(tmp_path)
    schema_yml = proj / "models" / "schema.yml"
    schema_yml.write_text(
        schema_yml.read_text().replace(
            "      - name: orders\n        meta:\n          path: $TESTDATA_DIR/orders.parquet",
            "      - name: orders\n        meta:\n          path: $TESTDATA_DIR/orders.parquet\n"
            "        columns:\n"
            "          - name: o_orderkey\n"
            "            tests: [unique, not_null]\n",
        )
    )
    manifest = load_project(proj)
    stg = next(m for m in manifest.models.values() if m.name == "stg_orders")
    assert {t.test_type for t in stg.tests} == {
        "unique", "not_null", "accepted_values", "relationships"
    }
    orders_src = next(
        s for s in manifest.sources.values() if s.table_name == "orders"
    )
    assert {t.test_type for t in orders_src.tests} == {"unique", "not_null"}
    # the same objects are registered in the global test map
    assert all(t.unique_id in manifest.tests for t in stg.tests + orders_src.tests)


def test_property_spellings_match_reference_example(tmp_path, spark):
    """The reference programmatic example iterates faldbt.models /
    .sources / .tests as ATTRIBUTES (002_jaffle_shop/fal_dbt.py);
    FalSpark exposes the same spellings alongside the list_* methods."""
    import os

    from dbt_fal_spark.api import FalSpark
    from tests.conftest import SF_DIR

    os.environ["TESTDATA_DIR"] = SF_DIR
    fal = FalSpark(FIXTURE, spark=spark)
    assert [m.name for m in fal.models] == [m.name for m in fal.list_models()]
    assert len(fal.sources) == len(fal.list_sources())
    assert len(fal.tests) == len(fal.list_tests())
    # the reference example's loop shape works verbatim
    for model in fal.models:
        _ = (model.name, [(t.name, t.status) for t in model.tests])
    for source in fal.sources:
        _ = (source.source_name, source.table_name,
             [(t.name, t.status) for t in source.tests])
