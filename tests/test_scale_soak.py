"""scripts/scale_soak.py command line and leg registry.  No Spark
session: only the parser runs (every leg stops its own session, so no
leg may run inside the shared test session)."""

from __future__ import annotations

import importlib.util
import os
import re
import sys
from pathlib import Path
from unittest import mock

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPT = ROOT / "scripts" / "scale_soak.py"

#: every selector flag and the leg it runs
SELECTORS = {
    "--dedup-docs": "_dedup_soak",
    "--semdedup-vecs": "_semdedup_soak",
    "--semdecon-vecs": "_semdecon_soak",
    "--drift-docs": "_drift_soak",
    "--bm25-docs": "_bm25_soak",
    "--dsir-docs": "_dsir_soak",
    "--ppl-docs": "_ppl_soak",
    "--corpus-docs": "_corpus_soak",
    "--corpus-full": "_corpus_full_soak",
    "--segdedup-hot": "_segdedup_hot_soak",
    "--pref-hot": "_pref_hot_soak",
    "--knn-vecs": "_knn_shape_soak",
    "--span-hot": "_span_hot_soak",
    "--delta-dedup": "_delta_dedup_soak",
    "--cap-hot": "_cap_hot_soak",
    "--classifier-docs": "_classifier_soak",
    "--pq-vecs": "_pq_soak",
    "--sft-turns": "_sft_soak",
    "--textproj-docs": "_textproj_soak",
    "--funnel-events": "_funnel_soak",
    "--engagement-events": "_engagement_soak",
    "--seq-events": "_seq_soak",
    "--graph-members": "_graph_soak",
    "--rank-rows": "_rank_soak",
    "--skewjoin-rows": "_skewjoin_soak",
    "--boot-rows": "_boot_soak",
    "--setsim-docs": "_setsim_soak",
    "--fuzzy-names": "_fuzzy_soak",
    "--sweep-intervals": "_sweep_soak",
}

#: the legs timed at lo=2 and hi=--cores
LOHI = {
    "--semdedup-vecs", "--semdecon-vecs", "--drift-docs", "--bm25-docs",
    "--dsir-docs", "--ppl-docs", "--pq-vecs", "--textproj-docs",
    "--sft-turns", "--classifier-docs",
}

#: every non-selector option and its default
OTHER_DEFAULTS = {
    "--turns": 100_000_000, "--avg-turns": 500, "--cores": 8,
    "--layout": "bucketed", "--buckets": 256, "--compress": False,
    "--sketches": False, "--data": "/tmp/grass_soak", "--bench-vecs": 200,
    "--knn-dims": 32, "--delta-frac": 0.1, "--skip-recompute": False,
    "--cap-naive": False, "--cap-sources": 5000, "--pq-methods": "expr,arrow",
    "--funnel-op": "both", "--seq-op": "all", "--engagement-op": "all",
}

#: every scale_soak.py command line quoted in the docs (placeholder N =
#: 1000, an optional [--flag] both ways) -> (leg, non-default values)
DOC_COMMANDS = {
    "scripts/scale_soak.py": ("_rollup_soak", {}),
    "scale_soak.py": ("_rollup_soak", {}),
    "scripts/scale_soak.py --dedup-docs 1000000":
        ("_dedup_soak", {"dedup_docs": 1000000}),
    "scripts/scale_soak.py --turns 12000000 --cores 8 --layout plain":
        ("_rollup_soak", {"turns": 12000000, "layout": "plain"}),
    "scripts/scale_soak.py --turns 12000000 --cores 8 --layout plain --sketches":
        ("_rollup_soak", {"turns": 12000000, "layout": "plain", "sketches": True}),
    "scripts/scale_soak.py --corpus-docs 1000000 --cores 8":
        ("_corpus_soak", {"corpus_docs": 1000000}),
    "scale_soak.py --corpus-docs 1000": ("_corpus_soak", {"corpus_docs": 1000}),
    "scale_soak.py --corpus-full 1000": ("_corpus_full_soak", {"corpus_full": 1000}),
    "scale_soak.py --cap-hot 1000": ("_cap_hot_soak", {"cap_hot": 1000}),
    "scale_soak.py --seq-events 24000000":
        ("_seq_soak", {"seq_events": 24000000}),
}


@pytest.fixture(scope="module")
def soak():
    # the script pins BLAS threads in os.environ and extends sys.path
    # at import; keep both out of the test process
    spec = importlib.util.spec_from_file_location("scale_soak", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    with mock.patch.dict(os.environ), mock.patch.object(sys, "path", list(sys.path)), \
            mock.patch.dict(sys.modules, {"scale_soak": mod}):
        spec.loader.exec_module(mod)
    return mod


def _doc_commands() -> set[str]:
    found = set()
    for doc in ("BASELINE.md", "PLANS.md", "CLAUDE.md"):
        text = (ROOT / doc).read_text()
        for m in re.finditer(r"`((?:scripts/)?scale_soak\.py[^`]*)`", text):
            cmd = " ".join(m.group(1).split())
            cmd = re.sub(r"(?<= )N\b", "1000", cmd)
            for variant in (re.sub(r" \[[^]]*\]", "", cmd),
                            re.sub(r"\[([^]]*)\]", r"\1", cmd)):
                found.add(variant)
    return found


def test_every_leg_registered_once(soak):
    fns = [lg.fn for lg in soak.LEGS]
    assert len(fns) == len(set(fns)) == 30
    soak_fns = {v for k, v in vars(soak).items() if k.endswith("_soak") and callable(v)}
    assert set(fns) == soak_fns
    selectors = [lg.selector for lg in soak.LEGS if lg.selector]
    assert len(selectors) == len(set(selectors)) == 29
    assert dict(zip(selectors, [lg.fn.__name__ for lg in soak.LEGS if lg.selector])) == SELECTORS
    assert [lg.fn.__name__ for lg in soak.LEGS if lg.selector is None] == ["_rollup_soak"]
    assert {lg.selector for lg in soak.LEGS if lg.lohi} == LOHI


def test_flags_keep_names_types_and_defaults(soak):
    ap = soak.build_parser()
    opts = {a.option_strings[0]: a for a in ap._actions if a.option_strings[0] != "-h"}
    assert set(opts) == set(SELECTORS) | set(OTHER_DEFAULTS)
    assert len(opts) == 47
    for sel in SELECTORS:
        assert opts[sel].type is int and opts[sel].default == 0
    assert {k: opts[k].default for k in OTHER_DEFAULTS} == OTHER_DEFAULTS
    assert opts["--layout"].choices == ("plain", "bucketed")
    assert opts["--funnel-op"].choices == ("both", "funnel", "retention")
    assert opts["--engagement-op"].choices == ("all", "actives", "rfm", "cusum", "corr")
    assert opts["--seq-op"].choices == (
        "all", "transitions", "anomalies", "asof", "interevent", "resample", "occupancy",
    )
    assert opts["--buckets"].type("t1m=256,t1h=64") == {"t1m": 256, "t1h": 64}


@pytest.mark.parametrize("selector", sorted(SELECTORS))
def test_each_selector_picks_its_leg(soak, selector):
    lg, args = soak.parse_args([selector, "1000", "--cores", "4"])
    assert lg.fn.__name__ == SELECTORS[selector]
    assert getattr(args, lg.dest) == 1000


def test_no_selector_runs_the_rollup_leg(soak):
    lg, args = soak.parse_args(["--cores", "2"])
    assert lg.fn.__name__ == "_rollup_soak" and args.cores == 2


def test_doc_command_lines_parse_to_the_same_leg(soak):
    assert _doc_commands() == set(DOC_COMMANDS)
    ap = soak.build_parser()
    for cmd, (leg_name, values) in DOC_COMMANDS.items():
        lg, args = soak.parse_args(cmd.split()[1:])
        assert lg.fn.__name__ == leg_name, cmd
        for dest, got in vars(args).items():
            assert got == values.get(dest, ap.get_default(dest)), (cmd, dest)


@pytest.mark.parametrize("pair", [
    ("--dedup-docs", "--bm25-docs"),
    *zip(sorted(SELECTORS), sorted(SELECTORS)[1:]),
])
def test_two_selectors_are_a_usage_error(soak, capsys, pair):
    with pytest.raises(SystemExit) as e:
        soak.parse_args([pair[0], "1000", pair[1], "1000"])
    assert e.value.code == 2
    assert "not allowed with" in capsys.readouterr().err


@pytest.mark.parametrize("selector", sorted(SELECTORS))
def test_cores_two_rejected_only_on_lohi_legs(soak, capsys, selector):
    argv = [selector, "1000", "--cores", "2"]
    if selector in LOHI:
        with pytest.raises(SystemExit) as e:
            soak.parse_args(argv)
        assert e.value.code == 2
        assert "--cores must be > 2" in capsys.readouterr().err
    else:
        lg, args = soak.parse_args(argv)
        assert lg.selector == selector and args.cores == 2
