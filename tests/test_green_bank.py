"""Green-bank bookkeeping stays mechanical: the committed bank file
must match what scripts/update_green_bank.py derives from the
CORRECTNESS files, and the registry window must order fresh ->
reverify -> banked (least recently verified first)."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_script():
    spec = importlib.util.spec_from_file_location(
        "update_green_bank", os.path.join(REPO, "scripts", "update_green_bank.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bank_file_matches_correctness_files():
    mod = _load_script()
    bank = {
        n: r for n, r in mod.scan_correctness().items() if n in mod.registered_names()
    }
    from kittispark._green_bank import DRIVER_GREEN

    assert DRIVER_GREEN == bank, (
        "kittispark/_green_bank.py is stale — rerun scripts/update_green_bank.py"
    )


def test_window_orders_fresh_then_reverify_then_deferred_then_banked():
    from kittispark import registry
    from kittispark.registry import _DEFER_FRESH, _DRIVER_GREEN, _REVERIFY

    names = list(registry.all_specs())

    def rank(n: str) -> int:
        if n in _REVERIFY:
            return 1
        if n in _DEFER_FRESH and n not in _DRIVER_GREEN:
            return 2
        if n not in _DRIVER_GREEN:
            return 0
        return 3

    ranks = [rank(n) for n in names]
    assert ranks == sorted(ranks), "fresh/reverify/deferred/banked interleaved"
    banked = [n for n in names if rank(n) == 3]
    rounds = [_DRIVER_GREEN[n] for n in banked]
    assert rounds == sorted(rounds), "banked greens not least-recently-verified first"


def test_deferred_additions_never_evict_reverify_from_window():
    """The point of the defer tier: with the window already exactly
    full, late additions must land AFTER every _REVERIFY name."""
    from kittispark import registry
    from kittispark.registry import _DEFER_FRESH, _REVERIFY

    names = list(registry.all_specs())
    # either set may legitimately be empty at a round boundary
    # (ADVICE r4: max() over an empty _REVERIFY raised ValueError)
    if not _DEFER_FRESH or not _REVERIFY:
        return
    last_reverify = max(names.index(n) for n in _REVERIFY)
    first_deferred = min(
        names.index(n) for n in _DEFER_FRESH if n in names
    )
    assert first_deferred > last_reverify


def test_reverify_names_are_registered():
    from kittispark import registry
    from kittispark.registry import _REVERIFY

    missing = _REVERIFY - set(registry.all_specs())
    assert not missing, f"_REVERIFY names not in registry: {missing}"


def test_module_deps_follows_kittispark_imports_at_any_depth(tmp_path):
    """The staleness tripwire judges a query by every kittispark module
    its defining file reaches: top-level and function-level imports,
    `import a.b`, `from pkg import mod`, relative imports, at any
    depth; the registry bookkeeping and non-kittispark imports are
    not followed."""
    mod = _load_script()
    files = {
        "kittispark/__init__.py": "",
        "kittispark/q.py": (
            "import os\n"
            "from kittispark import b\n"
            "from kittispark.registry import register\n"
            "def query():\n"
            "    from kittispark.sub.e import f\n"
            "    return f\n"
        ),
        "kittispark/b.py": "import kittispark.c\n",
        "kittispark/c.py": "from . import d\n",
        "kittispark/d.py": "import numpy\n",
        "kittispark/sub/__init__.py": "",
        "kittispark/sub/e.py": "from ..c import g\ndef f():\n    pass\n",
        "kittispark/registry.py": "from kittispark import unrelated\n",
        "kittispark/unrelated.py": "",
    }
    for rel, text in files.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    assert mod.module_deps("kittispark/q.py", str(tmp_path)) == {
        "kittispark/q.py",
        "kittispark/__init__.py",
        "kittispark/b.py",
        "kittispark/c.py",
        "kittispark/d.py",
        "kittispark/sub/e.py",
    }
    assert mod.module_deps("kittispark/d.py", str(tmp_path)) == {"kittispark/d.py"}
