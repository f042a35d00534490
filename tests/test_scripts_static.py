"""Static checks of the scripts outside the package: every ``BENCH/`` and
``tools/`` probe, plus the root-level bench and entry scripts.

They are parsed with ``ast`` and never run, so the check needs no Spark
session. Two things rot silently when the package changes under them:

* a ``from image_report_spark... import name`` whose name is gone;
* a keyword passed to ``EngineConfig(...)`` that is no longer a field.

The README's layout line for ``cli.py`` is checked the same way: it must
name every subcommand the CLI registers.
"""

from __future__ import annotations

import argparse
import ast
import dataclasses
import importlib
from pathlib import Path

import pytest

from image_report_spark.config import EngineConfig

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [*ROOT.glob("BENCH/*.py"), *ROOT.glob("tools/*.py"),
     ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]
)
FIELDS = {f.name for f in dataclasses.fields(EngineConfig) if f.init}


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_matches_package(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    problems = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and (node.module or "").split(".")[0] == "image_report_spark"
        ):
            for alias in node.names:
                if alias.name != "*" and not _resolves(node.module, alias.name):
                    problems.append(f"{node.lineno}: {node.module}.{alias.name}")
        elif isinstance(node, ast.Call):
            f = node.func
            callee = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if callee == "EngineConfig":
                for kw in node.keywords:
                    if kw.arg is not None and kw.arg not in FIELDS:
                        problems.append(f"{node.lineno}: EngineConfig({kw.arg}=)")
    assert not problems, problems


def test_readme_names_every_cli_subcommand(monkeypatch):
    from image_report_spark import cli

    parsers = []
    real = argparse.ArgumentParser.parse_args

    def spy(self, *a, **kw):
        parsers.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(argparse.ArgumentParser, "parse_args", spy)
    cli.parse_args(["history", "--table", "t"])
    (sub,) = [
        a for a in parsers[0]._actions if isinstance(a, argparse._SubParsersAction)
    ]
    line = next(
        ln for ln in (ROOT / "README.md").read_text().splitlines()
        if ln.strip().startswith("cli.py")
    )
    named = {w.strip() for w in line.split(None, 1)[1].split("/")}
    assert len(sub.choices) >= 11
    assert set(sub.choices) <= named, set(sub.choices) - named
