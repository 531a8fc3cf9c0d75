"""The CLI subcommands driven end to end through ``__main__.main``:
``index`` builds a serving root, ``search`` queries it (hybrid,
``--rerank`` and ``--rm3``), ``validate`` audits it, and ``audit``
plans the whole query catalog."""

from __future__ import annotations

from binance_data_pipeline_spark.__main__ import main


def test_cli_index_and_search_roundtrip(spark, tmp_path, capsys):
    """`index --embed-dim` builds a self-contained serving root from a
    documents parquet; `search` (with and without --rerank) prints
    ranked (rk, doc_id, score) lines with the expected top hit."""
    src = str(tmp_path / "docs.parquet")
    rows = [
        ("d1", "solar panels convert sunlight into clean electricity"),
        ("d2", "wind turbines convert moving air into electricity"),
        ("d3", "medieval knights wore heavy armor into battle"),
    ]
    spark.createDataFrame(rows, "doc_id string, text string").write.parquet(src)
    root = str(tmp_path / "root")

    rc = main([
        "index", "--docs", src, "--out", root,
        "--embed-dim", "64", "--term-buckets", "8", "--centroids", "2",
    ])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "passages=3" in printed and "ann_vectors=3" in printed

    rc = main(["search", "--root", root, "--query",
               "wind turbines convert moving air into electricity", "--k", "2"])
    assert rc == 0
    lines = [ln.split("\t") for ln in capsys.readouterr().out.strip().splitlines()]
    assert lines[0][0] == "1" and lines[0][1] == "d2"

    rc = main(["search", "--root", root, "--query",
               "wind turbines convert moving air into electricity",
               "--k", "2", "--rerank"])
    assert rc == 0
    lines = [ln.split("\t") for ln in capsys.readouterr().out.strip().splitlines()]
    assert lines[0][1] == "d2" and abs(float(lines[0][2]) - 1.0) < 1e-9


def test_cli_validate_root(spark, tmp_path, capsys):
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [("d1", "solar panels convert sunlight into electricity"),
         ("d2", "wind turbines convert moving air into electricity")],
        "doc_id string, text string",
    ).write.parquet(src)
    root = str(tmp_path / "root")
    assert main(["index", "--docs", src, "--out", root,
                 "--embed-dim", "32", "--term-buckets", "4",
                 "--centroids", "2"]) == 0
    capsys.readouterr()
    assert main(["validate", "--root", root]) == 0
    out = capsys.readouterr().out
    assert "n_passages=2" in out and "manifest_count_ok=True" in out


def test_cli_search_rm3(spark, tmp_path, capsys):
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [("d1", "solar energy panels photovoltaic cells electricity"),
         ("d2", "photovoltaic panels electricity output and cells yield"),
         ("d3", "medieval knights wore heavy armor into battle")],
        "doc_id string, text string",
    ).write.parquet(src)
    root = str(tmp_path / "root")
    assert main(["index", "--docs", src, "--out", root,
                 "--term-buckets", "4"]) == 0
    capsys.readouterr()
    assert main(["search", "--root", root, "--query", "solar energy",
                 "--k", "3", "--rm3"]) == 0
    lines = [ln.split("\t") for ln in capsys.readouterr().out.strip().splitlines()]
    assert lines[0][1] == "d1" and {l[1] for l in lines} >= {"d1", "d2"}


def test_cli_audit_exits_zero_on_clean_catalog(spark, capsys):
    """The audit subcommand plans every catalog query and exits 0 when
    no non-exempt scale error is found (the CI gate as a command)."""
    rc = main(["audit", "--sf-dir", "/root/testdata/sf0.001"])
    printed = capsys.readouterr().out
    assert rc == 0
    assert "audited=50 errors=0" in printed
    assert "embed_knn_brute\tEXEMPT" in printed
