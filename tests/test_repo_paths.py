"""Every repository path that the engine's comments and the run docs
cite must resolve: ``scripts/…``, ``BENCH/…``, ``plans/…`` and
``bench*.py`` either exist in this checkout or carry an ``@ <sha>``
pin to the commit that still has them (e.g. ``scripts/ab_lm.py @
415cb3d``). A pinned path is also checked against that commit when
the checkout has it."""

import os
import re
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "data_check_spark"

# a path-like token, optionally followed by an "@ <sha>" pin
TOKEN = re.compile(r"(?<![\w./-])([\w./-]+)(?:\s*@\s*([0-9a-f]{7,40})\b)?")
CITED = re.compile(r"(?:^|/)(?:scripts|BENCH|plans)/.|(?:^|/)bench\w*\.py$")


def _scanned_files():
    return sorted(PKG.rglob("*.py")) + [
        ROOT / "__spark_entry__.py",
        ROOT / "README.md",
        ROOT / ".claude" / "skills" / "verify" / "SKILL.md",
    ]


def cited_paths(text):
    """(path, pin or None) for each cited repository path in ``text``."""
    for m in TOKEN.finditer(text):
        path = m.group(1).rstrip(".")
        if CITED.search(path):
            yield path, m.group(2)


def _candidates(path):
    """Repository-relative spellings of ``path``: as written, relative
    to the package, and for ``plans/suite.ProfileCheck``-style module
    references the module file."""
    out = []
    for base in (path, f"data_check_spark/{path}"):
        out.append(base)
        head = base
        while "." in head.rsplit("/", 1)[-1]:
            head = head.rsplit(".", 1)[0]
            out.append(head + ".py")
    return out


def _exists_here(path):
    return any((ROOT / c).exists() for c in _candidates(path))


def _git(*args):
    return subprocess.run(
        ["git", "-C", str(ROOT), *args], capture_output=True, text=True
    )


def _exists_at(path, sha):
    """True/False when commit ``sha`` is in the checkout, None when not."""
    if _git("cat-file", "-e", f"{sha}^{{commit}}").returncode != 0:
        return None
    return any(
        _git("cat-file", "-e", f"{sha}:{c}").returncode == 0
        for c in _candidates(path)
    )


def test_scanner_finds_and_resolves_paths():
    text = (
        "see scripts/check_parity.py, plans/suite.ProfileCheck and\n"
        "bench.py @ 415cb3d; not perfbench/run.py nor bench.py.txt\n"
        "but (BENCH/AB_LM.jsonl)."
    )
    got = list(cited_paths(text))
    assert got == [
        ("scripts/check_parity.py", None),
        ("plans/suite.ProfileCheck", None),
        ("bench.py", "415cb3d"),
        ("BENCH/AB_LM.jsonl", None),
    ]
    assert _exists_here("scripts/check_parity.py")
    assert _exists_here("plans/suite.ProfileCheck")
    assert not _exists_here("BENCH/AB_LM.jsonl")


def test_cited_paths_resolve():
    unresolved = []
    for f in _scanned_files():
        rel = os.path.relpath(f, ROOT)
        for lineno, line in enumerate(f.read_text().splitlines(), 1):
            for path, pin in cited_paths(line):
                if pin is None:
                    if not _exists_here(path):
                        unresolved.append(f"{rel}:{lineno}: {path} (missing, no @ <sha> pin)")
                elif _exists_at(path, pin) is False:
                    unresolved.append(f"{rel}:{lineno}: {path} @ {pin} (not in that commit)")
    assert not unresolved, "\n".join(unresolved)
