"""The driver parses bench.py's single stdout JSON line out of a
2000-char tail buffer. build_stdout_line must stay <= 1800 chars at
ANY registry size by capping the per-query dict to the top-K most
expensive rows (full 3dp precision, true count in "n") instead of the
old dead-code precision ladder (VERDICT r9 #5 / ADVICE r9)."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_small_registry_full_dict_untruncated():
    t = {f"q{i}": 1.234 for i in range(10)}
    obj, line = bench.build_stdout_line(t, 12.34, 0.1)
    assert len(line) <= 1800
    assert "queries_truncated_to_top_k" not in obj
    assert obj["n"] == 10
    assert obj["queries"] == t


def test_large_registry_caps_to_top_k_most_expensive():
    t = {
        f"query_name_with_average_length_{i:03d}": round(0.1 + i * 0.013, 3)
        for i in range(150)
    }
    _obj, line = bench.build_stdout_line(t, round(sum(t.values()), 3), 0.1)
    parsed = json.loads(line)
    assert len(line) <= 1800
    assert parsed["n"] == 150
    k = parsed["queries_truncated_to_top_k"]
    assert k == len(parsed["queries"]) > 0
    top = sorted(t, key=t.get, reverse=True)[:k]
    assert set(parsed["queries"]) == set(top)
    # full 3dp precision survives the cap — no ladder
    assert all(parsed["queries"][n] == t[n] for n in parsed["queries"])


def test_current_headline_size_fits():
    # the real 67-query registry shape: realistic name lengths
    t = {n: 1.234 for n in bench.HEADLINE}
    _obj, line = bench.build_stdout_line(t, round(sum(t.values()), 3), 0.1)
    assert len(line) <= 1800


def test_extra_fields_ride_the_line_and_survive_capping():
    # VERDICT r11 #2: loadavg_pre + cpu_calib make contamination
    # machine-adjudicable from the one-line JSON itself. The core
    # contract keys stay intact and the 1800-char cap still holds
    # with the extras on board at any registry size.
    extra = {
        "loadavg_pre": [3.04, 2.11, 1.5],
        "cpu_calib": {"pyloop_2m_s": 0.063, "dot4m_ms": 1.16},
    }
    for n_queries in (10, 150):
        t = {
            f"query_name_with_average_length_{i:03d}": round(0.1 + i * 0.013, 3)
            for i in range(n_queries)
        }
        obj, line = bench.build_stdout_line(
            t, round(sum(t.values()), 3), 0.1, extra=extra
        )
        parsed = json.loads(line)
        assert len(line) <= 1800
        assert parsed["metric"] == "headline_query_wall_seconds"
        assert parsed["unit"] == "sec"
        assert parsed["sf"] == 0.1
        assert parsed["n"] == n_queries
        assert parsed["loadavg_pre"] == extra["loadavg_pre"]
        assert parsed["cpu_calib"] == extra["cpu_calib"]
        assert len(parsed["queries"]) > 0


def test_extra_field_cannot_shadow_contract_key():
    import pytest

    with pytest.raises(ValueError):
        bench.build_stdout_line({"q0": 1.0}, 1.0, 0.1, extra={"value": 9.9})


def test_extra_field_collision_raises_under_python_O():
    # a bare assert vanishes under -O and the extra would silently
    # overwrite the contract's "value"
    import subprocess
    import sys

    code = (
        "import importlib.util, sys\n"
        f"spec = importlib.util.spec_from_file_location('bench', {_spec.origin!r})\n"
        "bench = importlib.util.module_from_spec(spec); spec.loader.exec_module(bench)\n"
        "try:\n"
        "    bench.build_stdout_line({'q0': 1.0}, 1.0, 0.1, extra={'unit': 'x'})\n"
        "except ValueError:\n"
        "    sys.exit(0)\n"
        "sys.exit(1)\n"
    )
    assert subprocess.run([sys.executable, "-O", "-c", code]).returncode == 0


def _detail(load: float, sf: float = 0.1) -> dict:
    return {"value": 50.0, "sf": sf, "loadavg_pre": [load, load, load]}


def test_noisy_sample_never_clobbers_quiet_detail(tmp_path):
    # VERDICT r10 #1: driver's loadavg-3 run overwrote the committed
    # loadavg-0.9 sample. Noisy lands alongside instead.
    p = bench.write_detail(tmp_path, _detail(0.9))
    assert p.name == "BENCH_DETAIL.json"
    p = bench.write_detail(tmp_path, _detail(3.1))
    assert p.name == "BENCH_DETAIL_NOISY.json"
    kept = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert kept["loadavg_pre"][0] == 0.9


def test_quiet_sample_always_replaces(tmp_path):
    bench.write_detail(tmp_path, _detail(3.1))  # no prior file: lands main
    assert (tmp_path / "BENCH_DETAIL.json").exists()
    p = bench.write_detail(tmp_path, _detail(0.5))
    assert p.name == "BENCH_DETAIL.json"
    assert json.loads(p.read_text())["loadavg_pre"][0] == 0.5


def test_noisy_replaces_noisy(tmp_path):
    bench.write_detail(tmp_path, _detail(4.0))
    p = bench.write_detail(tmp_path, _detail(3.0))
    assert p.name == "BENCH_DETAIL.json"
    assert json.loads(p.read_text())["loadavg_pre"][0] == 3.0


def test_non_default_sf_never_touches_authoritative(tmp_path):
    bench.write_detail(tmp_path, _detail(0.5))
    p = bench.write_detail(tmp_path, _detail(0.1, sf=0.01))
    assert p.name == "BENCH_DETAIL_NOISY.json"
    assert json.loads((tmp_path / "BENCH_DETAIL.json").read_text())["sf"] == 0.1
