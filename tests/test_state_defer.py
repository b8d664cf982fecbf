"""--state PATH + --defer (reference: A/src/fal/dbt/cli/args.py:69-75,104;
Gherkin state:new case A/cli_tests/features/flow_run.feature:96-131):
a CI slim build selects only state:new/modified models against an
external artifact dir and defers unselected upstream refs to the
environment those artifacts were built in.
"""

from __future__ import annotations

import os
import shutil
import textwrap
from pathlib import Path

import pytest

from dbt_fal_spark.api import FalSpark
from dbt_fal_spark.materialize import _table_location


def _write_project(proj: Path, with_new_model: bool) -> None:
    (proj / "models").mkdir(parents=True, exist_ok=True)
    (proj / "dbt_project.yml").write_text("name: slimci")
    (proj / "models" / "base.sql").write_text(
        "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) AS t(id, tag)"
    )
    (proj / "models" / "schema.yml").write_text(
        textwrap.dedent(
            """
            version: 2
            models:
              - name: base
                config: {materialized: table}
              - name: derived
                config: {materialized: table}
            """
        )
    )
    if with_new_model:
        (proj / "models" / "derived.sql").write_text(
            "SELECT id, upper(tag) AS tag FROM {{ ref('base') }} WHERE id <= 2"
        )


@pytest.fixture()
def slim_ci(spark, tmp_path):
    for s in ("slim_prod", "slim_dev"):
        spark.sql(f"DROP DATABASE IF EXISTS {s} CASCADE")
    yield spark, tmp_path
    for s in ("slim_prod", "slim_dev"):
        spark.sql(f"DROP DATABASE IF EXISTS {s} CASCADE")


def test_state_new_with_defer_builds_only_new_model(slim_ci):
    spark, tmp_path = slim_ci
    proj = tmp_path / "proj"

    # 1. "prod" run of the original project (base only)
    _write_project(proj, with_new_model=False)
    prod = FalSpark(proj, spark=spark, schema="slim_prod")
    statuses = prod.run()
    assert all(s == "success" for s in statuses.values()), statuses

    # 2. archive prod's artifacts as the CI state dir
    state_dir = tmp_path / "prod_state"
    shutil.copytree(proj / "target", state_dir)

    # 3. dev adds a NEW model depending on an unselected upstream; the
    #    dev environment has never built anything
    _write_project(proj, with_new_model=True)
    dev = FalSpark(
        proj, spark=spark, schema="slim_dev", state_path=state_dir, defer=True
    )
    statuses = dev.run(select=["state:new"])
    # only the new model ran
    assert statuses == {"model.slimci.derived": "success"}, statuses

    # the new model exists in dev, built FROM prod's base (deferred ref)
    rows = {(r["id"], r["tag"]) for r in dev.ref("derived").collect()}
    assert rows == {(1, "A"), (2, "B")}
    # base was never built into dev
    assert not spark.catalog.tableExists("slim_dev.base")
    assert spark.catalog.tableExists("slim_prod.base")


def test_state_modified_against_external_state(slim_ci):
    spark, tmp_path = slim_ci
    proj = tmp_path / "proj2"
    _write_project(proj, with_new_model=True)
    prod = FalSpark(proj, spark=spark, schema="slim_prod")
    assert all(s == "success" for s in prod.run().values())
    state_dir = tmp_path / "prod_state2"
    shutil.copytree(proj / "target", state_dir)

    # nothing changed → state:modified selects nothing
    dev = FalSpark(proj, spark=spark, schema="slim_dev", state_path=state_dir)
    assert dev.run(select=["state:modified"]) == {}

    # edit one model → exactly that model is modified
    (proj / "models" / "derived.sql").write_text(
        "SELECT id, lower(tag) AS tag FROM {{ ref('base') }}"
    )
    dev2 = FalSpark(
        proj, spark=spark, schema="slim_dev", state_path=state_dir, defer=True
    )
    statuses = dev2.run(select=["state:modified"])
    assert set(statuses) == {"model.slimci.derived"}
    assert all(s == "success" for s in statuses.values())


def test_defer_prefers_local_table_when_present(slim_ci):
    spark, tmp_path = slim_ci
    proj = tmp_path / "proj3"
    _write_project(proj, with_new_model=True)
    prod = FalSpark(proj, spark=spark, schema="slim_prod")
    assert all(s == "success" for s in prod.run().values())
    state_dir = tmp_path / "prod_state3"
    shutil.copytree(proj / "target", state_dir)

    # dev builds base itself first; a deferred run must then use DEV's
    # base, not prod's (dbt semantics: defer only when locally absent)
    dev = FalSpark(proj, spark=spark, schema="slim_dev", state_path=state_dir, defer=True)
    assert all(s == "success" for s in dev.run(select=["base"]).values())
    spark.sql("INSERT INTO slim_dev.base VALUES (0, 'z')")  # passes the id<=2 filter
    statuses = dev.run(select=["derived"])
    assert all(s == "success" for s in statuses.values())
    rows = {(r["id"], r["tag"]) for r in dev.ref("derived").collect()}
    assert rows == {(0, "Z"), (1, "A"), (2, "B")}  # (0,'Z') proves dev's base was read


def test_defer_follows_live_version_after_rebuilds(slim_ci):
    """Every rebuild in the state warehouse flips the table to a fresh
    ``<name>__v<uuid8>`` dir; the canonical dir keeps an older version
    until the vacuum deletes it. A deferred ref the catalog does not know
    (the state environment's catalog was lost, as after a restart) must
    attach the LIVE version."""
    spark, tmp_path = slim_ci
    proj = tmp_path / "proj4"
    _write_project(proj, with_new_model=True)
    for tag in ("x", "y", "z"):  # build, then two rebuilds
        (proj / "models" / "base.sql").write_text(
            f"SELECT * FROM (VALUES (1, '{tag}'), (2, '{tag}'), (3, '{tag}')) AS t(id, tag)"
        )
        prod = FalSpark(proj, spark=spark, schema="slim_prod")
        assert all(s == "success" for s in prod.run(select=["base"]).values())
    state_dir = tmp_path / "prod_state4"
    shutil.copytree(proj / "target", state_dir)

    # restart analogue: the catalog forgets slim_prod.base, its files stay
    live = _table_location(spark, "slim_prod.base")
    assert "__v" in live
    saved = tmp_path / "saved_base"
    shutil.copytree(live, saved)
    spark.sql("DROP TABLE slim_prod.base")
    if not os.path.isdir(live):
        shutil.copytree(saved, live)

    dev = FalSpark(proj, spark=spark, schema="slim_dev", state_path=state_dir, defer=True)
    statuses = dev.run(select=["derived"])
    assert statuses == {"model.slimci.derived": "success"}, statuses
    rows = {(r["id"], r["tag"]) for r in dev.ref("derived").collect()}
    assert rows == {(1, "Z"), (2, "Z")}  # the last build's rows, not a stale version
