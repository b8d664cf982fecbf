"""profiles.yml-lite + --target (reference: A/src/fal/dbt/integration/
parse.py:59-98 profile/target resolution, load_db_profile.py:40-60):
per-target schema + warehouse location + thread default, target name
exposed to scripts via Context.
"""

from __future__ import annotations

import textwrap
from pathlib import Path

import pytest

from dbt_fal_spark.api import FalSpark
from dbt_fal_spark.materialize import live_version_dir
from dbt_fal_spark.project.loader import load_profile


@pytest.fixture()
def profiled_project(tmp_path: Path) -> Path:
    proj = tmp_path / "proj"
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(
        textwrap.dedent(
            """
            name: profiled
            profile: profiled
            """
        )
    )
    (proj / "profiles.yml").write_text(
        textwrap.dedent(
            f"""
            profiled:
              target: dev
              outputs:
                dev:
                  type: spark
                  schema: profiled_dev
                  warehouse_dir: {tmp_path}/wh_dev
                  threads: 2
                prod:
                  type: spark
                  schema: profiled_prod
                  warehouse_dir: {tmp_path}/wh_prod
                  threads: 8
            """
        )
    )
    (proj / "models" / "one.sql").write_text("SELECT 1 AS x")
    (proj / "models" / "schema.yml").write_text(
        textwrap.dedent(
            """
            version: 2
            models:
              - name: one
                config:
                  materialized: table
                meta:
                  fal:
                    scripts:
                      after:
                        - record_target.py
            """
        )
    )
    (proj / "record_target.py").write_text(
        "open(__file__ + '.target', 'w').write(str(context.target))\n"
    )
    return proj


def test_load_profile_resolution(profiled_project):
    dev = load_profile(profiled_project)
    assert dev["target"] == "dev" and dev["schema"] == "profiled_dev"
    prod = load_profile(profiled_project, target="prod")
    assert prod["target"] == "prod" and prod["threads"] == 8
    with pytest.raises(ValueError, match="no target 'staging'"):
        load_profile(profiled_project, target="staging")


def test_no_profiles_yml_is_fine(tmp_path):
    (tmp_path / "dbt_project.yml").write_text("name: bare")
    assert load_profile(tmp_path) is None


def _live_dir_inside(db_dir, name) -> bool:
    """The table's live version dir lies in ``db_dir`` and holds files."""
    live = live_version_dir(db_dir, name)
    return live is not None and Path(live).parent == db_dir.resolve() and any(Path(live).iterdir())


def test_target_switch_changes_warehouse_and_context(spark, profiled_project, tmp_path):
    for tgt in ("profiled_dev", "profiled_prod"):
        spark.sql(f"DROP DATABASE IF EXISTS {tgt} CASCADE")

    dev = FalSpark(profiled_project, spark=spark)
    assert dev.target_name == "dev" and dev.schema == "profiled_dev"
    assert dev.threads == 2
    statuses = dev.run()
    assert all(s == "success" for s in statuses.values()), statuses
    assert _live_dir_inside(tmp_path / "wh_dev" / "profiled_dev.db", "one")
    # script saw the active target name
    assert (profiled_project / "record_target.py.target").read_text() == "dev"

    prod = FalSpark(profiled_project, spark=spark, target="prod")
    assert prod.target_name == "prod" and prod.schema == "profiled_prod"
    statuses = prod.run()
    assert all(s == "success" for s in statuses.values()), statuses
    assert _live_dir_inside(tmp_path / "wh_prod" / "profiled_prod.db", "one")
    assert (profiled_project / "record_target.py.target").read_text() == "prod"

    # the two targets are fully disjoint: schemas and directories
    assert dev.ref("one").count() == 1 and prod.ref("one").count() == 1
    for tgt in ("profiled_dev", "profiled_prod"):
        spark.sql(f"DROP DATABASE IF EXISTS {tgt} CASCADE")


def test_profiles_dir_explicit(profiled_project, tmp_path, monkeypatch):
    """--profiles-dir (reference: args.py:45-52): an explicit dir is
    authoritative — its profiles.yml wins over the project-local one,
    and a missing profiles.yml there is an error, never a fallback."""
    alt = tmp_path / "alt_profiles"
    alt.mkdir()
    (alt / "profiles.yml").write_text(
        "profiled:\n  target: alt\n  outputs:\n    alt:\n"
        "      type: spark\n      schema: from_alt_dir\n"
    )
    prof = load_profile(profiled_project, profiles_dir=alt)
    assert prof["target"] == "alt" and prof["schema"] == "from_alt_dir"
    with pytest.raises(ValueError, match="has no profiles.yml"):
        load_profile(profiled_project, profiles_dir=tmp_path / "nope")
    # $DBT_PROFILES_DIR is the env spelling of the same override
    monkeypatch.setenv("DBT_PROFILES_DIR", str(alt))
    assert load_profile(profiled_project)["schema"] == "from_alt_dir"
    monkeypatch.delenv("DBT_PROFILES_DIR")
    # without either, the project-local file still wins
    assert load_profile(profiled_project)["schema"] == "profiled_dev"
