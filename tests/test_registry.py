"""The query registry's contract: ``all_queries()`` is the effective
head followed by the rest in ``_MODULES`` registration order, every
oracle belongs to a registered query, the registry and catalog guards
are hard raises that survive ``python -O``, and every package-internal
import resolves."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import subprocess
import sys
import textwrap

from __spark_entry__ import SF_SMOKE
from m5_competition_kaggle_spark import queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_all_queries_is_head_then_module_order():
    want = [name for mod in queries._MODULES for name in mod.QUERIES]
    head = [n for n in queries._effective_head() if n in want]
    tail = [n for n in want if n not in head]
    assert list(queries.all_queries()) == head + tail


def test_every_oracle_is_registered():
    assert set(queries.all_oracles()) <= set(queries.all_queries())


_OPTIMIZED_PROBE = textwrap.dedent(
    """
    import os, sys, tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    assert False, "unreachable: asserts are stripped under -O"

    from m5_competition_kaggle_spark import queries

    queries._MODULES = (queries.core, queries.core)
    for fn in (queries.all_queries, queries.all_oracles):
        try:
            fn()
        except RuntimeError as e:
            print("registry:", e)
        else:
            sys.exit(f"{fn.__name__} accepted a duplicate name")

    from m5_competition_kaggle_spark.session import get_spark
    from m5_competition_kaggle_spark.sources.catalog import load_table

    d = tempfile.mkdtemp()
    pq.write_table(
        pa.table({
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([0], pa.timestamp("us")),
            "user_id": pa.array(["u1"]),  # catalog says bigint
            "event_type": pa.array(["view"]),
            "value": pa.array([1.0]),
            "props": pa.array(["{}"]),
        }),
        os.path.join(d, "events.parquet"),
    )
    try:
        load_table(get_spark("optimized_probe", cpus=1), d, "events")
    except ValueError as e:
        print("catalog:", str(e).splitlines()[0])
    else:
        sys.exit("load_table accepted a bad events schema")
    """
)


def test_guards_raise_under_python_O():
    proc = subprocess.run(
        [sys.executable, "-O", "-c", _OPTIMIZED_PROBE],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "registry: duplicate query names" in proc.stdout
    assert "registry: duplicate oracle names" in proc.stdout
    assert "catalog: events schema mismatch" in proc.stdout


def test_check_oracle_rejects_unknown_names():
    proc = subprocess.run(
        [sys.executable, "scripts/check_oracle.py",
         SF_SMOKE, "q1_filter_project", "x_typo"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode != 0
    assert "unknown query names: x_typo" in proc.stderr


def _package_import_targets():
    """(file:line, module, name-or-None) for every import of a package
    module anywhere in the package — function-body imports included,
    since a lazy import only fails when its query runs."""
    pkg = "m5_competition_kaggle_spark"
    for path in sorted(glob.glob(
        os.path.join(REPO, pkg, "**", "*.py"), recursive=True
    )):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                targets = [(a.name, None) for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                # the package uses absolute imports only; a relative one
                # would slip past the module-name filter below
                assert not node.level, f"{path}:{node.lineno}: relative"
                targets = [(node.module, a.name) for a in node.names]
            else:
                continue
            where = f"{os.path.relpath(path, REPO)}:{node.lineno}"
            for mod, name in targets:
                if mod == pkg or mod.startswith(pkg + "."):
                    yield where, mod, name


def _resolves(mod: str, name: str | None) -> bool:
    try:
        if importlib.util.find_spec(mod) is None:
            return False
    except ModuleNotFoundError:
        return False
    if name is None or name == "*":
        return True
    if hasattr(importlib.import_module(mod), name):
        return True
    return importlib.util.find_spec(f"{mod}.{name}") is not None


def test_package_imports_resolve():
    targets = list(_package_import_targets())
    assert len(targets) > 100  # the walk found the package
    dangling = [
        f"{where}: {mod}" + (f".{name}" if name else "")
        for where, mod, name in targets
        if not _resolves(mod, name)
    ]
    assert not dangling, "dangling imports:\n" + "\n".join(dangling)
