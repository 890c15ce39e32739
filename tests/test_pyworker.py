"""Lazy zipimport invalidation in engine Python workers (pyworker.py).

The zip checks run in subprocesses so the pytest process keeps the stock
``zipimporter``; the Spark check asserts that engine tasks patch their
worker while the driver stays unpatched.
"""

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_pkg(path: str, modules: dict) -> None:
    """Write a zip holding package ``zpkg`` with ``modules`` (name → source)."""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/sub/__init__.py", "")
        for name, src in modules.items():
            zf.writestr(f"zpkg/{name}.py", src)


def _run(tmp_path, body: str) -> str:
    """Run ``body`` in a fresh interpreter with the zip package on sys.path
    (``ZIP``) and ``lazy_zip_invalidation`` importable; return its stdout."""
    script = textwrap.dedent(
        """
        import importlib, sys, zipimport
        ZIP = sys.argv[1]
        sys.path.insert(0, ZIP)
        import zpkg, zpkg.a, zpkg.sub
        from webcrawl_spark.pyworker import lazy_zip_invalidation
        """
    ) + textwrap.dedent(body)
    p = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "pkg.zip")],
        capture_output=True, text=True, timeout=120, cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
    )
    assert p.returncode == 0, p.stderr
    return p.stdout.strip()


SPY = """
reads = []
real = zipimport._read_directory
zipimport._read_directory = lambda a: reads.append(a) or real(a)
for _ in range(3):
    importlib.invalidate_caches()
print(len(reads))
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stdlib is already lazy")
def test_invalidate_caches_reads_no_directory_after_patch(tmp_path):
    _zip_pkg(str(tmp_path / "pkg.zip"), {"a": "X = 1\n"})
    assert int(_run(tmp_path, SPY)) > 0
    patched = "lazy_zip_invalidation()\nlazy_zip_invalidation()\n" + SPY
    assert int(_run(tmp_path, patched)) == 0


def test_rewritten_zip_imports_new_module_after_invalidation(tmp_path):
    _zip_pkg(str(tmp_path / "pkg.zip"), {"a": "X = 1\n"})
    out = _run(tmp_path, f"""
        lazy_zip_invalidation()
        importlib.invalidate_caches()
        import zipfile
        with zipfile.ZipFile(ZIP, "w") as zf:
            zf.writestr("zpkg/__init__.py", "")
            zf.writestr("zpkg/sub/__init__.py", "")
            zf.writestr("zpkg/a.py", "X = 1\\n")
            zf.writestr("zpkg/b.py", "Y = 2\\n")
            zf.writestr("zpkg/sub/c.py", "Z = 3\\n")
        importlib.invalidate_caches()
        import zpkg.b, zpkg.sub.c
        print(zpkg.b.Y + zpkg.sub.c.Z)
    """)
    assert out == "5"


def test_plain_import_leaves_zipimporter_unpatched(tmp_path):
    _zip_pkg(str(tmp_path / "pkg.zip"), {"a": "X = 1\n"})
    out = _run(tmp_path, """
        import webcrawl_spark
        print("_files" in vars(zipimport.zipimporter))
    """)
    assert out == "False"


def _probe(batches):
    import zipimport

    import webcrawl_spark  # noqa: F401  (the hook under test)
    from webcrawl_spark.pyworker import _invalidate_caches

    for pdf in batches:
        yield pd.DataFrame({
            "patched": [zipimport.zipimporter.invalidate_caches is _invalidate_caches]
            * len(pdf)
        })


def test_engine_task_patches_worker_not_driver(spark):
    import zipimport

    import webcrawl_spark  # noqa: F401

    out = spark.range(0, 8, 1, 4).mapInPandas(_probe, "patched boolean").toPandas()
    assert len(out) == 8
    assert out["patched"].all() == (sys.version_info < (3, 13))
    assert "_files" not in vars(zipimport.zipimporter)
