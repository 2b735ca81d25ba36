"""Each operator kernel has one Arrow path.

Every module under kmers_spark/ must import on its own, so a deletion
that leaves a dangling module-level import fails here in seconds rather
than deep inside a Spark job. No source file may route a kernel through
applyInPandas or fork on hasattr(..., "applyInArrow"): the Spark this
package targets always has applyInArrow. applyInPandasWithState and
mapInPandas have no Arrow twin and are not matched.
"""

import importlib
import pkgutil
import re
from pathlib import Path

import pytest

import kmers_spark

PKG_DIR = Path(kmers_spark.__file__).resolve().parent
MODULES = sorted(
    m.name for m in pkgutil.walk_packages([str(PKG_DIR)], prefix="kmers_spark.")
)
FORBIDDEN = re.compile(r"applyInPandas\(|hasattr\([^)]*applyIn")


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)


def test_no_pandas_twin_or_arrow_fork():
    hits = [
        f"{path.relative_to(PKG_DIR)}:{i}: {line.strip()}"
        for path in sorted(PKG_DIR.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if FORBIDDEN.search(line)
    ]
    assert not hits, "\n".join(hits)
