"""tools/ab_perfbench.py verdict arithmetic, on synthetic pairs (no Spark)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

import ab_perfbench as ab  # noqa: E402


def _pair(parent: float, change: float) -> dict:
    return {side: {"metrics": {"m": {"value": v}}}
            for side, v in (("parent", parent), ("change", change))}


def test_ratio_pairs_won_and_bound_direction():
    lower = {"name": "m", "better": "lower", "bound": 0.25}
    higher = {"name": "m", "better": "higher", "bound": 0.25}
    pairs = [_pair(1.0, 1.4), _pair(2.0, 1.9), _pair(1.0, 1.3)]
    ratio, won = ab._moved(lower, pairs)
    assert (round(ratio, 3), won) == (1.4, 1)
    assert ab._past_bound(lower, ratio) == 1  # 40% worse than the parent
    assert ab._past_bound(higher, ratio) == -1  # 40% better
    assert ab._past_bound(lower, 1.2) == 0
    assert ab._past_bound({"name": "m", "better": "lower"}, 9.0) == 0
    assert ab._seeds("3-5") == [3, 4, 5] and ab._seeds("7") == [7]
    assert ab._quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)


def test_layer_report_gives_medians_and_skips_untouched_layers(capsys):
    spec = {"per_layer": [{"name": "scan.build_s", "better": "lower"},
                          {"name": "streaming.delta_rows", "better": "higher"}]}

    def run(build, rows):
        return {"attempted": 3, "failed": 0, "correct": True,
                "metrics": {"scan.build_s": {"value": build},
                            "streaming.delta_rows": {"value": rows}}}

    pairs = [{"parent": run(p, 0.0), "change": run(c, 0.0)}
             for p, c in ((0.2, 0.1), (0.4, 0.1), (0.3, 0.5))]
    ab._report_layers(spec, pairs)
    out = capsys.readouterr().out
    assert "failed/attempted ops 0/9" in out
    line = next(x for x in out.splitlines() if x.startswith("scan.build_s"))
    assert line.split()[1:] == ["0.3000", "0.1000", "0.333", "2/3"]
    assert "streaming.delta_rows" not in out  # 0 on both sides
