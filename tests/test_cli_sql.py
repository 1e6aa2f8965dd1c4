"""--sql CLI mode: ad-hoc Spark SQL over the warehouse directory."""

import json

from beametrics_spark.cli import main


def test_sql_mode_json_lines(spark, sf_dir, capsys):
    rc = main(
        [
            "--sql",
            "SELECT o_orderstatus, count(*) AS n FROM orders "
            "GROUP BY 1 ORDER BY 1",
            "--sql-dir",
            sf_dir,
        ]
    )
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows and all({"o_orderstatus", "n"} == set(r) for r in rows)
    statuses = [r["o_orderstatus"] for r in rows]
    assert statuses == sorted(statuses)


def test_sql_mode_explain_shows_pushdown(spark, sf_dir, capsys):
    rc = main(
        [
            "--sql",
            "SELECT count(*) AS n FROM orders WHERE o_totalprice > 100000",
            "--sql-dir",
            sf_dir,
            "--explain",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "PushedFilters" in out and "GreaterThan(o_totalprice" in out


def test_cli_list_queries(capsys):
    from beametrics_spark.cli import main

    assert main(["--list-queries"]) == 0
    out = capsys.readouterr().out
    lines = [l for l in out.strip().splitlines() if l]
    assert len(lines) >= 150
    assert any(l.startswith("dedup_exact\toracle") for l in lines)
    assert any("rows-only" in l for l in lines)


def test_cli_run_named_query(capsys, sf_dir):
    import json

    from beametrics_spark.cli import main

    assert main(["--query", "text_token_stats", "--sql-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    rows = [json.loads(l) for l in out.strip().splitlines()]
    assert rows and all("lang" in r and "n_docs" in r for r in rows)


def test_cli_unknown_query_errors():
    import pytest

    from beametrics_spark.cli import main

    with pytest.raises(SystemExit, match="unknown query"):
        main(["--query", "no_such_query"])


def test_salt_buckets_needs_batch():
    """--salt-buckets only drives the batch pipeline, so a streaming run
    rejects it instead of dropping it silently."""
    import pytest

    from beametrics_spark.cli import build_parser, validate_args

    argv = ["--metric-name", "m", "--salt-buckets", "4"]
    with pytest.raises(ValueError, match="--salt-buckets"):
        validate_args(build_parser().parse_args(argv))
    validate_args(build_parser().parse_args(argv + ["--batch"]))
