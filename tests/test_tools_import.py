"""Every script under ``tools/`` imports cleanly, without starting a
Spark session.

Most tools run only by hand, so a dangling ``from tools.… import …`` (or
any other import-time error) would otherwise surface only when someone
next runs that tool.
"""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

TOOLS = sorted(
    p.stem for p in (Path(__file__).resolve().parents[1] / "tools").glob("*.py")
)


def _no_session(self):
    raise AssertionError("importing a tool started a Spark session")


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports_without_a_session(name, monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", _no_session)
    module = importlib.import_module(f"tools.{name}")
    assert module.__file__.endswith(f"{name}.py")
