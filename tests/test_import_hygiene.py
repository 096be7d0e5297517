"""Importing the package, or any one of its top-level modules, must not
change the caller's process: no ``sys.path`` or ``PYTHONPATH`` edits,
and no third-party modules pulled in as a side effect."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PACKAGE = "dask_felleskomponenter_spark"

# run as ``python -c _PROBE <module>``
_PROBE = """
import importlib, json, os, sys
before = (os.environ.get("PYTHONPATH"), list(sys.path))
importlib.import_module(sys.argv[1])
after = (os.environ.get("PYTHONPATH"), list(sys.path))
print(json.dumps({
    "before": before,
    "after": after,
    "google": sorted(m for m in sys.modules
                     if m == "google" or m.startswith("google.")),
}))
"""


def _top_level_modules() -> list[str]:
    """Subpackages and modules directly under the package, found on
    disk so a new module is covered without editing this list."""
    root = os.path.join(REPO_ROOT, PACKAGE)
    names = []
    for entry in sorted(os.listdir(root)):
        path = os.path.join(root, entry)
        if os.path.isfile(os.path.join(path, "__init__.py")):
            names.append(entry)
        elif entry.endswith(".py") and entry != "__init__.py":
            names.append(entry[:-3])
    return names


def _assert_import_is_clean(module: str) -> None:
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, module],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["after"][0] == got["before"][0], "PYTHONPATH changed"
    assert got["after"][1] == got["before"][1], "sys.path changed"
    assert got["google"] == [], f"google.* modules loaded: {got['google']}"


def test_package_import_leaves_process_state_unchanged():
    _assert_import_is_clean(PACKAGE)


@pytest.mark.parametrize("name", _top_level_modules())
def test_module_import_leaves_process_state_unchanged(name):
    _assert_import_is_clean(f"{PACKAGE}.{name}")
