"""Notebook integration (reference F4: `%init_fal` magic,
projects/adapter/src/fal/dbt/integration/magics.py:195-240).

``init_fal(project_dir=...)`` injects the globals a global script gets
(``FalSpark._globals``: ``ref``, ``source``, ``execute_sql``,
``write_to_model``, ``write_to_source``, ``list_*``, ``session``,
``context``) plus the project handle ``faldbt`` into the calling
namespace, exactly what the reference's magic does for Jupyter cells but
Spark-backed and usable from any interpreter (the IPython line-magic
registration is attempted when IPython is importable; the function works
without it)."""

from __future__ import annotations

import inspect


def init_fal(
    project_dir: str = ".",
    *,
    spark=None,
    vars: dict | None = None,
    namespace: dict | None = None,
):
    """Inject the fal script globals into ``namespace`` (defaults to the
    caller's globals — in a notebook cell, that's the notebook namespace).
    Returns the FalSpark handle."""
    from dbt_fal_spark.api import FalSpark

    fal = FalSpark(project_dir, spark=spark, vars=vars)
    if namespace is None:
        frame = inspect.currentframe().f_back
        namespace = frame.f_globals if frame is not None else {}
    namespace.update(fal._globals(None), faldbt=fal)  # the reference exposes the handle too
    return fal


def load_ipython_extension(ipython) -> None:  # pragma: no cover - needs IPython
    """`%load_ext dbt_fal_spark.magics` → `%init_fal --project-dir p`."""
    from IPython.core.magic import register_line_magic

    @register_line_magic("init_fal")
    def _init_fal_magic(line: str):
        import shlex

        kwargs: dict[str, str] = {}
        tokens = shlex.split(line)
        for i, tok in enumerate(tokens):
            if tok == "--project-dir" and i + 1 < len(tokens):
                kwargs["project_dir"] = tokens[i + 1]
        return init_fal(namespace=ipython.user_ns, **kwargs)
