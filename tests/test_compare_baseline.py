"""tools/compare_baseline.py argument parsing: ``--queries`` takes every
word after it, so the order of ``sf_dir`` and ``--queries`` matters and
a wrong order must fail loudly instead of running the default SF."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location(
        "compare_baseline", os.path.join(REPO, "tools", "compare_baseline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_sf_dir_then_queries_then_json():
    args = _tool().parse_args(
        ["some/sf", "--queries", "word_count", "topk_orders", "--json", "out.json"]
    )
    assert args.sf_dir == "some/sf"
    assert args.queries == ["word_count", "topk_orders"]
    assert args.json_out == "out.json"


def test_options_first_then_sf_dir():
    args = _tool().parse_args(
        ["--json", "out.json", "--queries", "word_count", "--", "some/sf"]
    )
    assert args.sf_dir == "some/sf"
    assert args.queries == ["word_count"]
    assert args.json_out == "out.json"


def test_trailing_sf_dir_after_queries_is_an_error(capsys):
    with pytest.raises(SystemExit) as exc:
        _tool().parse_args(["--queries", "word_count", "some/sf"])
    assert exc.value.code == 2
    assert "'some/sf'" in capsys.readouterr().err


def test_defaults():
    tool = _tool()
    import bench

    args = tool.parse_args([])
    assert (args.sf_dir, args.queries, args.json_out) == (bench.SF_DIR, [], None)
