"""Regenerate kittispark/_green_bank.py from the driver's
CORRECTNESS_r*.json files.

The green bank maps query name -> LAST round with a hash_match
driver verdict; the registry orders the driver's adjudication window
from it (never-green first, then _REVERIFY, then banked greens
least-recently-verified first). Hand-maintaining that map silently
mis-prioritizes the rotation the moment it goes stale (VERDICT r3
#6) — this script makes the bookkeeping mechanical:

    python scripts/update_green_bank.py          # rewrite the bank
    python scripts/update_green_bank.py --check  # exit 1 on drift

Names in registry._REVERIFY are still banked here (the registry
excludes them from banked ordering itself); names that appear in a
CORRECTNESS file but no longer exist in the registry are dropped
with a warning (renamed/retired queries must not shadow-occupy the
bank).
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BANK_PATH = os.path.join(REPO, "kittispark", "_green_bank.py")

_HEADER = '''"""Driver-green verdict bank — GENERATED, do not hand-edit.

Regenerate with  python scripts/update_green_bank.py  after each
round's CORRECTNESS_r{N}.json lands. Maps query name -> last round
with a hash_match driver verdict (rows-only passes never bank)."""

DRIVER_GREEN: dict[str, int] = {
'''


def scan_correctness() -> dict[str, int]:
    """name -> max round with hash_match true, across all rounds."""
    bank: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if row.get("hash_match") is True:
                bank[name] = max(bank.get(name, 0), rnd)
    return bank


def registered_names() -> set[str]:
    sys.path.insert(0, REPO)
    from kittispark import registry

    return set(registry.all_specs())


def render(bank: dict[str, int]) -> str:
    lines = [
        f"    {name!r}: {rnd},\n"
        for name, rnd in sorted(bank.items(), key=lambda kv: (kv[1], kv[0]))
    ]
    return _HEADER + "".join(lines) + "}\n"


def _git_epoch(args: list[str]) -> int:
    import subprocess

    try:
        out = subprocess.run(
            ["git", "log", "-1", "--format=%ct", *args],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=30,
        ).stdout.strip()
        return int(out) if out else 0
    except Exception:
        return 0


def _module_file(module: str, root: str) -> str | None:
    """Repo-relative file of a dotted kittispark module, or None when
    the name is not a module in the tree (e.g. an imported function)."""
    base = os.path.join(*module.split("."))
    for rel in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(os.path.join(root, rel)):
            return rel
    return None


def _direct_imports(rel: str, root: str) -> set[str]:
    """Repo-relative files of the kittispark modules that the file
    `rel` imports anywhere in its body, function-level imports
    included (queries often import their operators inside the query
    function)."""
    with open(os.path.join(root, rel)) as f:
        tree = ast.parse(f.read(), rel)
    # the package a relative import starts from (an __init__.py
    # belongs to its own directory's package, like any module there)
    package_parts = os.path.dirname(rel).split(os.sep)
    names: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package_parts[: len(package_parts) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            names.append(base)
            # `from pkg import mod` imports a submodule when one exists
            names += [f"{base}.{a.name}" for a in node.names]
    out = set()
    for name in names:
        if name == "kittispark" or name.startswith("kittispark."):
            f = _module_file(name, root)
            if f is not None:
                out.add(f)
    return out


# Imported by every query module for @register, but edits to them
# change no query's plan or output: not followed.
_BOOKKEEPING = frozenset({"kittispark/registry.py", "kittispark/_green_bank.py"})


def module_deps(rel: str, root: str = REPO) -> set[str]:
    """`rel` plus every kittispark module file it reaches through
    imports, at any depth: the files whose edit can change what a
    query defined in `rel` computes (the registry bookkeeping aside)."""
    seen = {rel}
    todo = [rel]
    while todo:
        for dep in _direct_imports(todo.pop(), root) - seen - _BOOKKEEPING:
            seen.add(dep)
            todo.append(dep)
    return seen


def staleness_report(bank: dict[str, int]) -> list[str]:
    """The re-verification cadence tripwire (VERDICT r8 #6): with a
    50-slot window over 266 greens a banked verdict refreshes every
    ~5 rounds by rotation alone. Flag any query whose green verdict
    is MORE than 6 rounds old AND whose defining module, or a
    kittispark module it imports at any depth (module_deps), changed
    since that verdict landed (a forgotten _REVERIFY entry — the
    registry discipline says a compute-path change voids the banked
    green). Also list the stalest decile with (query, green round,
    defining file, newest changed dependency) so drift is visible
    before it becomes a flag. File granularity is the tripwire's
    resolution: a module edit flags every stale query that reaches
    it — cheap, and a false positive just means one extra
    re-adjudication."""
    import inspect

    from kittispark import registry

    specs = registry.all_specs()
    current = max(bank.values(), default=0)
    lines: list[str] = []
    file_of = {}
    for name in bank:
        spec = specs.get(name)
        if spec is None:
            continue
        f = inspect.getsourcefile(spec.fn) or "?"
        file_of[name] = os.path.relpath(f, REPO)
    deps_of = {
        f: module_deps(f) if os.path.isfile(os.path.join(REPO, f)) else {f}
        for f in set(file_of.values())
    }
    # one git call per distinct module file, not per query
    changed_at = {
        f: _git_epoch(["--", f]) for f in sorted(set().union(*deps_of.values()))
    }
    verdict_at = {
        rnd: _git_epoch(["--diff-filter=A", "--", f"CORRECTNESS_r{rnd:02d}.json"])
        or _git_epoch(["--", f"CORRECTNESS_r{rnd:02d}.json"])
        for rnd in sorted(set(bank.values()))
    }
    rows = []
    for name, rnd in bank.items():
        f = file_of.get(name)
        if f is None:
            continue
        newest = max(sorted(deps_of[f]), key=lambda d: changed_at.get(d, 0))
        changed = changed_at.get(newest, 0) > verdict_at.get(rnd, 0) > 0
        rows.append((rnd, name, f, newest if changed else None))
    rows.sort(key=lambda r: r[:3])
    flagged = [
        (rnd, name, dep)
        for rnd, name, _, dep in rows
        if dep and current - rnd > 6 and name not in registry._REVERIFY
    ]
    for rnd, name, dep in flagged:
        lines.append(
            f"STALE: {name} green r{rnd} ({current - rnd} rounds old) but "
            f"{dep} changed since — queue in _REVERIFY or re-sweep"
        )
    decile = rows[: max(1, len(rows) // 10)]
    lines.append(f"stalest decile of {len(rows)} banked greens (current r{current}):")
    for rnd, name, f, dep in decile:
        mark = f" [{dep} changed since]" if dep else ""
        lines.append(f"  {name}: green r{rnd}, {f}{mark}")
    return lines


def main() -> int:
    bank = scan_correctness()
    known = registered_names()
    from kittispark import registry

    if registry._DEFER_FRESH:
        print(
            "WARN: registry._DEFER_FRESH is non-empty "
            f"({sorted(registry._DEFER_FRESH)}) — clear it at round "
            "start so late additions rejoin the head of the fresh tier"
        )
    dropped = sorted(set(bank) - known)
    for name in dropped:
        print(f"WARN: green verdict for unregistered query {name!r} — dropped")
    bank = {n: r for n, r in bank.items() if n in known}
    text = render(bank)
    if "--check" in sys.argv:
        with open(BANK_PATH) as f:
            current = f.read()
        if current != text:
            print("DRIFT: kittispark/_green_bank.py is stale — rerun "
                  "scripts/update_green_bank.py")
            return 1
        for line in staleness_report(bank):
            print(line)
        print(f"OK: bank current ({len(bank)} greens)")
        return 0
    with open(BANK_PATH, "w") as f:
        f.write(text)
    print(f"WROTE {BANK_PATH} ({len(bank)} greens)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
