"""CLI front-end contract (reference O17): argument validation and
the registry listing. The laplace/query subcommands start a Spark
session, so their end-to-end paths are exercised by test_laplace_blocked
and the operator tests; here we pin the parse/validation behavior."""

from __future__ import annotations

import json

import pytest

from pwir_zadanie_4_mapreduce_spark.cli import main


def test_list_prints_every_query(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out.splitlines()
    from pwir_zadanie_4_mapreduce_spark.operators import QUERIES

    assert set(out) >= set(QUERIES)
    # every runnable laplace entry from the __spark_entry__ registry,
    # not just a hardcoded one (round-4 advice)
    for name in (
        "laplace_sor_n8",
        "laplace_sor_n4",
        "laplace_blocked_sor_n8",
        "laplace_blocked_sor_n4",
    ):
        assert name in out


def test_laplace_rejects_n_below_2(capsys):
    # laplace-seq.c:155-161 rejects N < 2
    assert main(["laplace", "1"]) == 1
    assert "N must be >= 2" in capsys.readouterr().err


def test_unknown_subcommand_exits_with_usage():
    with pytest.raises(SystemExit):
        main(["frobnicate"])


def test_stats_line_carries_breakdown(capsys):
    """The stats sink mirrors the parallel reference's field order
    (laplace-par.c:541): duration, breakdown, #iters, diff, epsilon."""
    import io

    from pwir_zadanie_4_mapreduce_spark.laplace import LaplaceResult, print_stats

    res = LaplaceResult(
        grid=None,
        num_iterations=15,
        final_diff=1.9e-6,
        omega=1.0,
        epsilon=2.9e-6,
        duration_s=0.25,
        breakdown_s=0.05,
    )
    buf = io.StringIO()
    print_stats(res, file=buf)
    line = buf.getvalue()
    assert line.startswith("Statistics: duration(s)=0.250000 breakdown=0.050000 ")
    assert "#iters=15 " in line and "epsilon=0.0000029000" in line


def test_laplace_parses_only_verbose_and_n():
    """`laplace [--verbose] N` is the whole contract (laplace-seq.c:11-19):
    there is one solver, so no flag selects one."""
    from pwir_zadanie_4_mapreduce_spark.cli import _build_parser

    args = _build_parser().parse_args(["laplace", "--verbose", "4"])
    assert args.verbose and args.n == 4
    with pytest.raises(SystemExit):
        _build_parser().parse_args(["laplace", "--blocked", "4"])


def test_driver_sample_rotation_least_recently_sampled_first():
    """queries() ordering is the driver's per-round sample: with the
    r1-r8 sweep complete (every name sampled at least once), the head
    must now be the LEAST-recently-sampled names — last-checked round
    numbers must be non-decreasing across the mapping, so stale r1-era
    evidence refreshes before twice-sampled recent names."""
    import __spark_entry__ as entrymod

    last = entrymod._last_driver_checked_round()
    rounds = [last.get(name, 0) for name in entrymod.queries()]
    assert rounds == sorted(rounds), rounds[:20]
    if last:  # artifacts present (always true in this repo)
        # never-sampled names (round-9 adds) and the stalest round
        # lead; the most recently sampled round trails
        assert rounds[0] <= min(last.values())
        assert rounds[-1] == max(last.values())


def test_rotation_ignores_retired_names(tmp_path, monkeypatch):
    """A name sampled in an old round but since renamed/retired must not
    appear in _last_driver_checked_round(): through r9 the r3 artifact's
    join_asof_last_event_before_order pinned min(last.values()) below
    every live name's round and broke the rotation invariant."""
    import __spark_entry__ as entrymod

    art = {
        "join_asof_last_event_before_order": {"hash_match": True, "err": None},
        "agg_listagg_priority_digest": {"hash_match": True, "err": None},
    }
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(art))
    monkeypatch.setattr(entrymod, "_REPO_DIR", str(tmp_path))
    last = entrymod._last_driver_checked_round()
    assert "join_asof_last_event_before_order" not in last
    assert last == {"agg_listagg_priority_digest": 3}
