"""CLI surface tests (cli.main with argv, no subprocess): backfill →
status against a generated op log, mirroring the
reference's run_plug_play.py entry-point flow."""

from __future__ import annotations

import json
import os

from haf_plug_play_spark import cli, fixtures


def _run(capsys, argv: list[str]) -> dict:
    rc = cli.main(argv)
    assert rc == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_cli_backfill_status_compact_promote(spark, tmp_path, capsys):
    ops_df, trx_df = fixtures.as_dataframes(spark, 2000, 5)
    ops, trx = str(tmp_path / "ops"), str(tmp_path / "trx")
    out = str(tmp_path / "out")
    ops_df.write.parquet(ops)
    trx_df.write.parquet(trx)
    lo = ops_df.agg({"block_num": "min"}).first()[0]
    hi = ops_df.agg({"block_num": "max"}).first()[0]

    got = _run(capsys, [
        "backfill", "--plug", "podping", "--ops", ops, "--trx", trx,
        "--out", out, "--start", str(lo), "--end", str(hi), "--step", "200",
    ])
    assert got["plug"] == "podping" and got["chunks"] > 0 and got["cursor"] == hi

    status = _run(capsys, ["status", "--ops", ops, "--out", out])
    assert status["head_block_num"] == hi
    assert any(p["plug"] == "podping" and p["lag_blocks"] == 0 for p in status["plugs"])


def test_cli_snapshot_lifecycle(spark, tmp_path, capsys):
    """publish → log → rewrite → vacuum through the CLI (the object-store-
    safe publication path, runner/snapshots.py)."""
    src = str(tmp_path / "src")
    spark.range(200).selectExpr("id", "id % 7 AS v").repartition(16).write.parquet(src)
    table = str(tmp_path / "snap_tbl")

    pub = _run(capsys, ["snapshot", "publish", "--table", table, "--source", src])
    assert pub["snapshot_id"] == 1 and pub["parent"] is None

    rew = _run(capsys, ["snapshot", "rewrite", "--table", table, "--target-files", "2"])
    assert rew["snapshot_id"] == 2 and rew["parent"] == 1

    log = _run(capsys, ["snapshot", "log", "--table", table])
    assert [s["snapshot_id"] for s in log["snapshots"]] == [2, 1]

    vac = _run(capsys, ["snapshot", "vacuum", "--table", table, "--keep-last", "1"])
    assert vac["kept"] == [2] and len(vac["deleted_manifests"]) == 1

    from haf_plug_play_spark.runner import snapshots as sn

    assert sn.read_snapshot(spark, table).count() == 200


def test_config_loader_contract(tmp_path):
    """key=value parsing, typed integers, unknown-key and missing-file
    errors raised (not process-killed — the reference-defect fix), blank
    template creation on first run."""
    import pytest

    from haf_plug_play_spark.config import (
        CONFIG_FIELDS, ConfigError, load_config,
    )

    cf = tmp_path / "plug_play.conf"
    cf.write_text(
        "# engine settings\n"
        "ops_path=/data/ops\n"
        "out_dir=/data/out\n"
        "step=250\n"
        "server_port=8080\n"
        "trx_path=\n"  # blank → omitted, caller defaults apply
    )
    conf = load_config(str(cf))
    assert conf == {
        "ops_path": "/data/ops", "out_dir": "/data/out",
        "step": 250, "server_port": 8080,
    }

    bad = tmp_path / "bad.conf"
    bad.write_text("db_host=x\n")  # a reference field, not an engine one
    with pytest.raises(ConfigError, match="invalid config key 'db_host'"):
        load_config(str(bad))

    nonint = tmp_path / "nonint.conf"
    nonint.write_text("step=many\n")
    with pytest.raises(ConfigError, match="step must be an integer"):
        load_config(str(nonint))

    missing = tmp_path / "fresh" / "new.conf"
    with pytest.raises(ConfigError, match="blank template was created"):
        load_config(str(missing))
    assert missing.read_text() == "".join(f"{f}=\n" for f in CONFIG_FIELDS)


def test_cli_backfill_reads_config_file(spark, tmp_path, capsys):
    """--config supplies ops/trx/out/step; explicit flags still win."""
    ops_df, trx_df = fixtures.as_dataframes(spark, 1000, 9)
    ops, trx = str(tmp_path / "ops"), str(tmp_path / "trx")
    out = str(tmp_path / "out")
    ops_df.write.parquet(ops)
    trx_df.write.parquet(trx)
    lo = ops_df.agg({"block_num": "min"}).first()[0]
    hi = ops_df.agg({"block_num": "max"}).first()[0]
    cf = tmp_path / "conf"
    cf.write_text(
        f"ops_path={ops}\ntrx_path={trx}\nout_dir={out}\nstep=500\n"
    )
    got = _run(capsys, [
        "backfill", "--plug", "podping", "--config", str(cf),
        "--start", str(lo), "--end", str(hi),
    ])
    assert got["cursor"] == hi
    assert got["chunks"] == (hi - lo) // 500 + 1
    status = _run(capsys, ["status", "--config", str(cf)])
    by_plug = {p["plug"]: p for p in status["plugs"]}
    assert by_plug["podping"]["latest_block_num"] == hi


def test_cli_curate_funnel_and_determinism(spark, tmp_path, capsys):
    """curate runs the composed funnel over a documents parquet: counts
    must shrink monotonically through the funnel, the output must be
    partitioned by split with chunk assignments, and a rerun must select
    the identical rows (pure-function-of-key contract)."""
    from tests.conftest import SF_SMOKE

    out1, out2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    argv = [
        "curate", "--in", f"{SF_SMOKE}/documents.parquet",
        "--out", out1, "--rate", "0.8", "--budget", "512",
    ]
    got = _run(capsys, argv)
    f = got["funnel"]
    assert f["input"] >= f["deduped"] >= f["gated"] >= f["curated"] > 0
    assert set(got["splits"]) <= {"train", "val", "test"}
    df1 = spark.read.parquet(out1)
    assert {"split", "chunk_id", "n_tok", "q_score", "lang"} <= set(df1.columns)
    # deterministic rerun: identical surviving rows + identical chunk ids
    got2 = _run(capsys, argv[:4] + [out2] + argv[5:])
    assert got2["funnel"] == f
    rows1 = sorted((r.doc_id, r.split, r.chunk_id) for r in df1.collect())
    rows2 = sorted(
        (r.doc_id, r.split, r.chunk_id)
        for r in spark.read.parquet(out2).collect()
    )
    assert rows1 == rows2


def test_corpus_format_roundtrip_and_curate_jsonl(spark, tmp_path, capsys):
    """JSONL/CSV corpus readers must round-trip the parquet fixture
    exactly (schema + values, including free text with commas and
    quotes), and the curate CLI must produce the identical funnel over a
    JSONL input as over the parquet it came from, writing JSONL out."""
    from tests.conftest import SF_SMOKE

    from haf_plug_play_spark.sources.corpus import (
        convert_corpus,
        read_corpus,
        write_corpus,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    jl = str(tmp_path / "docs_jsonl")
    write_corpus(docs, jl, fmt="jsonl")
    back = read_corpus(spark, jl, fmt="jsonl")
    assert back.schema == docs.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))

    # CSV with hostile text: embedded commas and quotes survive FAILFAST
    csv_dir = str(tmp_path / "docs_csv")
    hostile = spark.createDataFrame(
        [(1, 'a, "quoted" text', "en", "s", 16), (2, "plain", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    hostile.write.option("header", "true").option("quote", '"').option(
        "escape", '"'
    ).csv(csv_dir)
    got = read_corpus(spark, csv_dir, fmt="csv")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, hostile.collect()))

    # one-pass migration
    pq = str(tmp_path / "docs_pq")
    assert convert_corpus(spark, jl, pq, fmt="jsonl") == docs.count()

    # curate over JSONL input == curate over the original parquet
    out_j = str(tmp_path / "cur_j")
    got_j = _run(capsys, [
        "curate", "--in", jl, "--in-format", "jsonl", "--out", out_j,
        "--out-format", "jsonl", "--rate", "0.8", "--budget", "512",
    ])
    out_p = str(tmp_path / "cur_p")
    got_p = _run(capsys, [
        "curate", "--in", f"{SF_SMOKE}/documents.parquet", "--out", out_p,
        "--rate", "0.8", "--budget", "512",
    ])
    assert got_j["funnel"] == got_p["funnel"]
    assert got_j["splits"] == got_p["splits"]


def test_cli_vocab_learns_merges(spark, capsys):
    from tests.conftest import SF_SMOKE

    got = _run(capsys, [
        "vocab", "--in", f"{SF_SMOKE}/documents.parquet", "--merges", "4",
    ])
    assert len(got["merges"]) == 4
    assert [m["rank"] for m in got["merges"]] == [1, 2, 3, 4]
    assert all(m["pair_count"] > 0 for m in got["merges"])


def test_cli_explain_prints_plan(spark, capsys):
    rc = cli.main(["explain", "QA1-topk"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "TakeOrderedAndProject" in out  # the top-k plan contract
    rc = cli.main(["explain", "NOPE"])
    assert rc == 2
    rc = cli.main(["explain"])  # neither a query id nor --all
    assert rc == 2


def test_cli_explain_all_hygiene_summary(spark, capsys):
    """explain --all emits one JSON hygiene line per declared query, with
    zero cartesians and zero row-at-a-time Python UDFs everywhere (the
    CLI twin of tests/test_plans.py::test_global_plan_hygiene_sweep)."""
    import __spark_entry__ as entry

    capsys.readouterr()
    rc = cli.main(["explain", "--all"])
    assert rc == 0
    lines = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert {r["query"] for r in lines} == set(entry.queries())
    for r in lines:
        assert r["cartesian"] == 0 and r["row_udf"] == 0, r
        # every declared query reads at least one table — a zero scans
        # count means the header regex stopped matching, not a scanless
        # plan (ADVICE r12)
        assert r["scans"] > 0 and r["exchanges"] >= 0, r


def test_plan_hygiene_summary_counts_row_udf_once(spark):
    """Regression (ADVICE r11): row_udf must count physical nodes, not
    raw-text substring hits — a formatted plan renders each node in both
    the tree and the details section, so plan.count("BatchEvalPython")
    reported 2× per node. Build a real plan with one row-at-a-time
    Python UDF and assert the counter says exactly 1."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    plus_one = F.udf(lambda x: x + 1, LongType())
    df = spark.range(4).select(plus_one(F.col("id")).alias("y"))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("BatchEvalPython") >= 2  # the substring trap
    got = cli.plan_hygiene_summary("probe", plan)
    assert got["row_udf"] == 1
    assert got["cartesian"] == 0


def test_plan_hygiene_summary_counts_punctuated_headers(spark):
    """Regression (ADVICE r12): detail headers with punctuation — a
    catalog-qualified "Scan parquet spark_catalog.default.t" or a
    "[codegen id : N]" annotation — must still be counted. Build a real
    plan over a REGISTERED catalog table and assert scans lands > 0."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS hygiene_probe_t")
    spark.range(8).withColumn("v", F.col("id") * 2).write.saveAsTable(
        "hygiene_probe_t"
    )
    try:
        df = spark.table("hygiene_probe_t").where(F.col("v") > 4)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # the punctuation trap this test exists for
        assert "spark_catalog.default.hygiene_probe_t" in plan
        got = cli.plan_hygiene_summary("probe", plan)
        assert got["scans"] > 0
        assert got["cartesian"] == 0 and got["row_udf"] == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS hygiene_probe_t")


def test_curate_near_dup_stage(spark, tmp_path):
    """Opt-in MinHash near-dedup inside the funnel: planted fuzzy copies
    (one word changed — exact dedup can't see them) must be dropped, the
    canonical keeper must be the lowest id in each cluster, and the
    funnel must report the extra stage while the default path's funnel
    keys stay unchanged."""
    from haf_plug_play_spark.ext.curate import curate_documents

    import hashlib

    def salad(i: int, n: int = 30) -> list[str]:
        # deterministic distinct word salad per doc — no cross-doc overlap
        return [
            hashlib.md5(f"{i}-{k}".encode()).hexdigest()[:8] for k in range(n)
        ]

    rows = []
    for i in range(20):
        rows.append((i, " ".join(salad(i))))
    # fuzzy copies of docs 0-4: one word changed -> high Jaccard, not exact
    for i in range(5):
        w = salad(i)
        w[15] = "changed"
        rows.append((100 + i, " ".join(w)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    _, f0 = curate_documents(docs, min_score=-100.0)
    assert "near_deduped" not in f0 and f0["deduped"] == 25  # all exact-distinct

    curated, f = curate_documents(docs, min_score=-100.0, near_dup_threshold=0.5)
    assert list(f) == ["input", "deduped", "near_deduped", "gated", "curated"]
    assert f["deduped"] == 25 and f["near_deduped"] == 20
    kept = {r.doc_id for r in curated.collect()}
    assert set(range(20)) == kept  # originals kept, fuzzy copies dropped


def test_curate_decontam_and_dsir_stages(spark, tmp_path, capsys):
    """Opt-in decontamination + DSIR gates inside the funnel: a doc whose
    shingles overlap the eval corpus is dropped; only docs whose hashed
    n-gram features are target-like (log_weight > tau against the
    --dsir-target subset) survive the DSIR gate; the funnel reports both
    stages in order and the flag pass stays one aggregation. Then the
    same stages through the CLI flags with a deterministic rerun."""
    from pyspark.sql import functions as F

    from haf_plug_play_spark.ext.curate import curate_documents

    # two vocabularies: src0 talks about reactors, src1 about gardens —
    # DSIR against src0 must keep reactor-speak and drop garden-speak
    reactor = "neutron flux moderator coolant turbine reactor core control"
    garden = "tulip compost trellis pergola loam seedling mulch arbor"
    rows = [
        (0, reactor + " alpha", "en", "src0"),
        (1, reactor + " beta", "en", "src0"),
        (2, reactor + " gamma", "en", "src1"),  # reactor-speak, wrong source
        (3, garden + " delta", "en", "src1"),
        (4, garden + " epsilon", "en", "src1"),
        (5, "the quick brown fox jumps over the lazy dog benchmark", "en", "src1"),
        (6, "", "en", "src1"),  # no features: never target-like
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    eval_df = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog benchmark")],
        "doc_id long, text string",
    )

    curated, f = curate_documents(
        docs,
        min_score=-100.0,
        decontam_eval=eval_df,
        dsir_target=F.col("source") == "src0",
        dsir_tau=-1.0,
    )
    assert list(f) == [
        "input", "deduped", "decontaminated", "dsir_kept", "gated", "curated",
    ]
    assert f["input"] == 7 and f["deduped"] == 7
    assert f["decontaminated"] == 6  # doc 5 is a verbatim eval doc
    kept = {r.doc_id for r in curated.collect()}
    assert 5 not in kept  # contaminated
    assert 6 not in kept  # featureless: dropped by the DSIR gate
    assert {0, 1} <= kept  # target docs are target-like
    assert {3, 4} & kept == set()  # garden-speak scores far below tau
    assert 2 in kept  # target-LIKE text survives regardless of source
    assert f["dsir_kept"] == len(kept)

    # the same stages through the CLI flags, deterministic across reruns
    src = str(tmp_path / "docs")
    ev = str(tmp_path / "eval")
    docs.write.parquet(src)
    eval_df.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("bench")
    ).write.parquet(ev)
    out1, out2 = str(tmp_path / "c1"), str(tmp_path / "c2")
    argv = [
        "curate", "--in", src, "--out", out1, "--min-score", "-100",
        "--decontam-eval", ev, "--dsir-target", "source = 'src0'",
        "--dsir-tau", "-1.0",
    ]
    got = _run(capsys, argv)
    assert got["funnel"] == f
    got2 = _run(capsys, argv[:4] + [out2] + argv[5:])
    assert got2["funnel"] == f
    rows1 = sorted((r.doc_id, r.split) for r in spark.read.parquet(out1).collect())
    rows2 = sorted((r.doc_id, r.split) for r in spark.read.parquet(out2).collect())
    assert rows1 == rows2 and {d for d, _ in rows1} == kept


def test_curate_dedup_spans_stage(spark):
    """--dedup-spans runs keep-one-copy substring removal BEFORE the
    funnel: a doc that duplicates another doc's text keeps only its own
    novel tail, and every later stage (tokens, packing) sees the cleaned
    text."""
    import hashlib

    from haf_plug_play_spark.ext.curate import curate_documents

    shared = " ".join(
        hashlib.md5(f"s-{k}".encode()).hexdigest()[:8] for k in range(30)
    )
    tail = " ".join(
        hashlib.md5(f"t-{k}".encode()).hexdigest()[:8] for k in range(10)
    )
    docs = spark.createDataFrame(
        [(1, shared), (2, f"{shared} {tail}")], "doc_id long, text string"
    )
    curated, f = curate_documents(docs, min_score=-100.0, remove_dup_spans=8)
    got = {r.doc_id: r for r in curated.collect()}
    assert f["input"] == f["curated"] == 2
    assert got[1].n_tok == 30 and got[1].text == shared  # canonical intact
    assert got[2].n_tok == 10 and got[2].text == tail  # duplicate excised


def test_cli_snapshot_through_object_store(spark, tmp_path, capsys, monkeypatch):
    """The snapshot CLI end-to-end through the conditional-PUT object
    store (--fs object): publish twice, time-travel read snapshot 1, log
    the chain — and the two-writer race: a competitor landing between
    the CLI's pointer read and its conditional PUT is refused BY THE
    STORE, surfacing as a clean exit 3 with a JSON error, the staged
    objects self-cleaned (VERDICT r6 #7; previously only unit tests
    drove runner/fs.py's ObjectStoreFS)."""
    from haf_plug_play_spark.runner import fs as fsmod
    from haf_plug_play_spark.runner import snapshots as sn

    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    spark.range(100).selectExpr("id", "1 AS v").write.parquet(src1)
    spark.range(40).selectExpr("id", "2 AS v").write.parquet(src2)
    table = str(tmp_path / "obj_tbl")

    p1 = _run(capsys, ["snapshot", "publish", "--fs", "object",
                       "--table", table, "--source", src1])
    assert p1["snapshot_id"] == 1 and p1["parent"] is None
    p2 = _run(capsys, ["snapshot", "publish", "--fs", "object",
                       "--table", table, "--source", src2])
    assert p2["snapshot_id"] == 2 and p2["parent"] == 1

    # time travel through the CLI read action
    cur = _run(capsys, ["snapshot", "read", "--fs", "object", "--table", table])
    old = _run(capsys, ["snapshot", "read", "--fs", "object", "--table", table,
                        "--snapshot-id", "1"])
    assert cur["rows"] == 40 and old["rows"] == 100

    log = _run(capsys, ["snapshot", "log", "--fs", "object", "--table", table])
    assert [s["snapshot_id"] for s in log["snapshots"]] == [2, 1]

    # local-fs readers see nothing special: same manifests on disk
    assert sn.read_snapshot(spark, table).count() == 40

    # two-writer race: the competitor commits right after the CLI's
    # pointer read; the CLI's If-Match PUT must 412 → exit 3, clean JSON
    # error on stderr, and the competitor's pointer intact
    class RacingStore(fsmod.EmulatedObjectStore):
        def __init__(self):
            self.fired = False

        def get(self, key):
            got = super().get(key)
            if key.endswith("_current") and got is not None and not self.fired:
                self.fired = True
                winner = sn.commit_snapshot(
                    spark, spark.range(7).selectExpr("id", "9 AS v"),
                    table, fsmod.ObjectStoreFS(fsmod.EmulatedObjectStore()),
                )
                assert winner["snapshot_id"] == 3
            return got

    racing = RacingStore()
    monkeypatch.setattr(fsmod, "EmulatedObjectStore", lambda: racing)
    rc = cli.main(["snapshot", "publish", "--fs", "object",
                   "--table", table, "--source", src1])
    captured = capsys.readouterr()
    assert rc == 3 and racing.fired
    err = json.loads(captured.err.strip().splitlines()[-1])
    assert err["action"] == "publish" and "another writer" in err["error"]
    # the winner's commit survives; the loser's snapshot never landed
    chain = sn.committed_chain(table, fsmod.ObjectStoreFS(fsmod.EmulatedObjectStore()))
    assert [m["snapshot_id"] for m in chain] == [3, 2, 1]
    assert sn.read_snapshot(spark, table).count() == 7


def _release_corpus(spark):
    """13 docs across three strata with one exact duplicate and one
    eval-contaminated doc; every text is a distinct deterministic word
    salad so dedup/mixture behavior is exactly predictable."""
    import hashlib

    def salad(tag: str, n: int = 20) -> str:
        return " ".join(
            hashlib.md5(f"{tag}-{k}".encode()).hexdigest()[:8] for k in range(n)
        )

    rows = []
    for i in range(5):
        rows.append((i, salad(f"a{i}"), "en", "src0"))
    for i in range(5):
        rows.append((10 + i, salad(f"b{i}"), "en", "src1"))
    rows.append((20, salad("c0"), "en", "src2"))  # stratum absent from recipe
    rows.append((21, salad("c1"), "en", "src2"))
    rows.append((30, rows[0][1], "en", "src0"))  # exact duplicate of doc 0
    # doc 14 doubles as the contaminated doc: its text IS the eval text
    eval_rows = [(1000, rows[9][1])]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    eval_df = spark.createDataFrame(eval_rows, "doc_id long, text string")
    return docs, eval_df


def test_cli_release_pipeline(spark, tmp_path, capsys):
    """Pipeline-7 through the CLI (ext/curate.py:run_release): funnel
    counts in stage order, recipe mixture rates applied (strata absent
    from the recipe dropped), decontamination reachable from the release
    flags (r7 parity gap), split/pack columns present in the published
    table, snapshot publish + read-back, idempotent re-release (same
    (writer_id, batch_id) -> same snapshot, NOTHING republished), and a
    new batch appending as snapshot 2."""
    from haf_plug_play_spark.runner import snapshots as sn

    docs, eval_df = _release_corpus(spark)
    src, ev = str(tmp_path / "docs"), str(tmp_path / "eval")
    docs.write.parquet(src)
    eval_df.write.parquet(ev)
    table = str(tmp_path / "rel_tbl")

    argv = [
        "release", "--in", src, "--table", table,
        "--mix", "src0=0.7,src1=0.3", "--min-score", "-100",
        "--decontam-eval", ev,
        "--batch-id", "1", "--writer-id", "rel",
    ]
    got = _run(capsys, argv)
    f = got["funnel"]
    assert list(f) == [
        "input", "deduped", "decontaminated", "gated", "curated", "mixed",
    ]
    assert f["input"] == 13 and f["deduped"] == 12  # doc 30 is a dup
    assert f["decontaminated"] == 11  # doc 14 is verbatim in the eval set
    assert f["gated"] == f["curated"] == 11  # score/lang/rate gates open
    assert 0 < f["mixed"] <= f["curated"]
    assert got["snapshot"]["snapshot_id"] == 1
    assert got["snapshot"]["parent"] is None
    assert len(got["snapshot"]["data_dirs"]) == 1

    # the published table carries the full curation schema; strata absent
    # from the recipe (src2) are gone; per-split counts in the summary
    # match the snapshot read-back
    released = sn.read_snapshot(spark, table)
    assert {"split", "chunk_id", "n_tok", "q_score", "lang", "mix_rate"} <= set(
        released.columns
    )
    assert released.count() == f["mixed"]
    assert released.filter("source = 'src2'").count() == 0
    assert sum(s["docs"] for s in got["splits"].values()) == f["mixed"]
    rows1 = sorted(
        (r.doc_id, r.split, r.chunk_id) for r in released.collect()
    )

    # idempotent re-release: same (writer, batch) is a no-op BEFORE any
    # data write — same snapshot, same data dirs, no new snap-* dir on
    # disk, byte-identical table
    data_dirs_before = sorted(os.listdir(os.path.join(table, "data")))
    got2 = _run(capsys, argv)
    assert got2["snapshot"] == got["snapshot"]
    assert got2["funnel"] == f
    assert sorted(os.listdir(os.path.join(table, "data"))) == data_dirs_before
    rows2 = sorted(
        (r.doc_id, r.split, r.chunk_id)
        for r in sn.read_snapshot(spark, table).collect()
    )
    assert rows2 == rows1

    # a NEW batch appends: snapshot 2 with parent 1, rows doubled (the
    # Iceberg append shape — the delta is a second data dir)
    got3 = _run(capsys, argv[:-3] + ["2", "--writer-id", "rel"])
    assert got3["snapshot"]["snapshot_id"] == 2
    assert got3["snapshot"]["parent"] == 1
    assert len(got3["snapshot"]["data_dirs"]) == 2
    assert sn.read_snapshot(spark, table).count() == 2 * f["mixed"]


def test_cli_release_deterministic_and_dsir_flag(spark, tmp_path, capsys):
    """Two releases of the same corpus into FRESH tables produce the
    identical row set (pure-function-of-(key,seed) contract), and the
    --dsir-target/--dsir-tau release flags (r7 parity gap) reach the
    funnel."""
    from haf_plug_play_spark.runner import snapshots as sn

    docs, _ = _release_corpus(spark)
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    t1, t2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    argv = [
        "release", "--in", src, "--mix", "src0=0.6,src1=0.4",
        "--min-score", "-100", "--batch-id", "1",
    ]
    g1 = _run(capsys, argv + ["--table", t1])
    g2 = _run(capsys, argv + ["--table", t2])
    assert g1["funnel"] == g2["funnel"]
    r1 = sorted(map(tuple, sn.read_snapshot(spark, t1).collect()))
    r2 = sorted(map(tuple, sn.read_snapshot(spark, t2).collect()))
    assert r1 == r2

    # DSIR through the release CLI: target src0's vocabulary; src1/src2
    # word salads share no n-grams with it, so only src0-like docs (and
    # the doc-0 duplicate's keeper) survive the gate
    t3 = str(tmp_path / "t3")
    g3 = _run(capsys, [
        "release", "--in", src, "--table", t3, "--min-score", "-100",
        "--dsir-target", "source = 'src0'", "--dsir-tau", "-1.0",
        "--batch-id", "1",
    ])
    assert "dsir_kept" in g3["funnel"]
    kept_sources = {
        r.source for r in sn.read_snapshot(spark, t3).select("source").collect()
    }
    assert kept_sources == {"src0"}


def test_cli_release_through_object_store(spark, tmp_path, capsys):
    """release --fs object: the whole pipeline commits through the
    conditional-PUT object store; the snapshot CLI reads it back (with
    the RESOLVED current snapshot id, ADVICE r7), and an idempotent
    re-release holds across separate CLI invocations (the store is
    file-backed, so a second process sees the first's pointer)."""
    docs, _ = _release_corpus(spark)
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    table = str(tmp_path / "obj_rel")

    argv = [
        "release", "--fs", "object", "--in", src, "--table", table,
        "--mix", "src0=0.5,src1=0.5", "--min-score", "-100",
        "--batch-id", "1", "--writer-id", "rel",
    ]
    got = _run(capsys, argv)
    assert got["snapshot"]["snapshot_id"] == 1

    rd = _run(capsys, ["snapshot", "read", "--fs", "object", "--table", table])
    assert rd["rows"] == got["funnel"]["mixed"]
    assert rd["snapshot_id"] == 1  # resolved, not echoed-null

    got2 = _run(capsys, argv)
    assert got2["snapshot"] == got["snapshot"]
    log = _run(capsys, ["snapshot", "log", "--fs", "object", "--table", table])
    assert [s["snapshot_id"] for s in log["snapshots"]] == [1]


def test_cli_report_corpus_diagnostics(spark, capsys):
    """The report CLI bundles the oracle-gated diagnostics (Zipf,
    fertility, KL drift) plus the per-source HLL shingle estimates on
    the certify=False production path into one JSON document, and each
    leg must agree with its query-form counterpart on the same corpus."""
    from tests.conftest import SF_SMOKE

    got = _run(capsys, ["report", "--in", f"{SF_SMOKE}/documents.parquet"])
    assert set(got) == {
        "zipf",
        "fertility",
        "kl_drift",
        "doremi_weights",
        "entropy_by_source",
        "distinct_shingles_hll",
    }
    from haf_plug_play_spark.ext.registry import EXT_QUERIES

    zq = EXT_QUERIES["XT-zipf"](spark, SF_SMOKE).collect()[0].asDict()
    assert got["zipf"] == zq
    fq = [r.asDict() for r in EXT_QUERIES["XT-fertility"](spark, SF_SMOKE).collect()]
    assert got["fertility"] == fq
    kq = [r.asDict() for r in EXT_QUERIES["XT-kl-drift"](spark, SF_SMOKE).collect()]
    assert got["kl_drift"] == kq
    dq = [r.asDict() for r in EXT_QUERIES["XA-doremi"](spark, SF_SMOKE).collect()]
    assert got["doremi_weights"] == dq
    assert got["entropy_by_source"]
    for row in got["entropy_by_source"]:
        assert set(row) == {"source", "n_docs", "mean_norm_entropy",
                            "min_norm_entropy"}
        assert 0.0 <= row["min_norm_entropy"] <= row["mean_norm_entropy"] <= 1.0
    # production-path sketch: per-source rows, no exact columns
    assert got["distinct_shingles_hll"]
    for row in got["distinct_shingles_hll"]:
        assert set(row) == {"source", "hll_est", "n_registers_used"}
        assert row["hll_est"] > 0
    # --persist (interactive corpus cache) changes the physical plan
    # only — the bundle must be byte-identical
    cached = _run(
        capsys, ["report", "--in", f"{SF_SMOKE}/documents.parquet", "--persist"]
    )
    assert cached == got


def test_cli_report_optional_embedding_qc(spark, capsys):
    """--embeddings adds the per-label QC leg, agreeing with the
    XS-embqc query form on the same table; without the flag the key is
    absent (the corpus bundle alone)."""
    from tests.conftest import SF_SMOKE

    got = _run(
        capsys,
        [
            "report",
            "--in",
            f"{SF_SMOKE}/documents.parquet",
            "--embeddings",
            f"{SF_SMOKE}/embeddings.parquet",
        ],
    )
    from haf_plug_play_spark.ext.registry import EXT_QUERIES

    eq = [r.asDict() for r in EXT_QUERIES["XS-embqc"](spark, SF_SMOKE).collect()]
    assert got["embedding_qc"] == eq


def test_curate_entropy_gate_stage(spark):
    """Opt-in normalized-entropy gate: a repeated-token boilerplate doc
    (norm entropy 0) and an empty doc are dropped, diverse docs
    survive, and the funnel reports the stage between its upstream
    flags and the quality gate."""
    from haf_plug_play_spark.ext.curate import curate_documents

    rows = [
        (0, "the reactor coolant loop runs under the turbine hall", "en", "s"),
        (1, "buy buy buy buy buy buy buy buy", "en", "s"),  # collapsed
        (2, "tulip compost trellis pergola loam seedling mulch", "en", "s"),
        (3, "", "en", "s"),  # no tokens: no entropy row
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    curated, f = curate_documents(docs, min_score=-100.0, min_entropy=0.5)
    kept = {r.doc_id for r in curated.collect()}
    assert kept == {0, 2}
    assert f["entropy_kept"] == 2
    assert list(f).index("deduped") < list(f).index("entropy_kept") < list(
        f
    ).index("gated")


def test_curate_entropy_gate_custom_text_col(spark):
    """Regression (ADVICE r11): min_entropy with text_col != 'text' —
    doc_entropy reads a fixed 'text' column, so the curate stage must
    alias the custom column through like the dsir/decontam stages do
    (previously raised AnalysisException)."""
    from haf_plug_play_spark.ext.curate import curate_documents

    rows = [
        (0, "the reactor coolant loop runs under the turbine hall", "en", "s"),
        (1, "buy buy buy buy buy buy buy buy", "en", "s"),  # collapsed
        (2, "tulip compost trellis pergola loam seedling mulch", "en", "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, content string, lang string, source string"
    )
    curated, f = curate_documents(
        docs, min_score=-100.0, min_entropy=0.5, text_col="content"
    )
    kept = {r.doc_id for r in curated.collect()}
    assert kept == {0, 2}
    assert f["entropy_kept"] == 2


def test_curate_all_stages_custom_text_col(spark):
    """Every opt-in funnel stage must thread text_col (the ADVICE r11
    bug class): run the FULL stage stack — near-dup, decontam, DSIR,
    entropy, span-removal, recipe mixing — over a corpus whose text
    column is named 'content' and assert the funnel completes with the
    input column preserved (any hardcoded 'text' reference raises
    AnalysisException at plan time)."""
    from pyspark.sql import functions as F

    from haf_plug_play_spark.ext.curate import curate_documents

    rows = [
        (
            i,
            f"alpha beta gamma delta epsilon zeta eta theta iota kappa w{i}",
            "en",
            "s0" if i % 2 else "s1",
        )
        for i in range(20)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, content string, lang string, source string"
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, content string",
    )
    curated, f = curate_documents(
        docs,
        min_score=-100.0,
        text_col="content",
        near_dup_threshold=0.5,
        decontam_eval=ev,
        dsir_target=F.col("source") == "s0",
        dsir_tau=-1e9,
        min_entropy=0.1,
        remove_dup_spans=8,
        mix_targets={"s0": 0.5, "s1": 0.5},
    )
    assert "content" in curated.columns and "text" not in curated.columns
    # no internal stage flags leak into the curated output
    assert not [c for c in curated.columns if c.startswith("_")]
    # the funnel's stage keys all materialized, in order
    stages = ["input", "deduped", "near_deduped", "decontaminated",
              "dsir_kept", "entropy_kept", "gated", "curated", "mixed"]
    assert [k for k in f if k in stages] == stages
    assert f["input"] == 20
    # semantics, not plumbing: all 20 docs share a 10-word prefix, so
    # span-removal strips it corpus-wide, leaving ~1-token docs whose
    # norm_entropy is 0 — the entropy gate then correctly drops them
    assert f["entropy_kept"] == 0 and curated.count() == 0


def test_cli_release_min_entropy_flag(spark, tmp_path, capsys):
    """--min-entropy reaches the release funnel (flag parity with
    curate): the entropy stage appears in the funnel counters and a
    collapsed-vocabulary doc is excluded from the published table."""
    rows = [
        (0, "the reactor coolant loop runs under the turbine hall", "en", "src0"),
        (1, "spam spam spam spam spam spam spam spam", "en", "src0"),
        (2, "tulip compost trellis pergola loam seedling mulch", "en", "src1"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(str(tmp_path / "docs"))
    got = _run(capsys, [
        "release", "--in", str(tmp_path / "docs"),
        "--table", str(tmp_path / "t"),
        "--min-score", "-100", "--min-entropy", "0.5", "--batch-id", "1",
    ])
    assert got["funnel"]["entropy_kept"] == 2
    from haf_plug_play_spark.runner import snapshots as sn

    kept = {r.doc_id for r in sn.read_snapshot(spark, str(tmp_path / "t")).collect()}
    assert kept == {0, 2}


def test_cli_curate_stream(spark, tmp_path, capsys):
    """curate-stream drains a document directory through the streaming
    curation loop and reports commits + published doc count; a second
    invocation over the same checkpoint publishes nothing new."""
    spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "eta theta iota kappa lambda mu")],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "docs"))
    argv = [
        "curate-stream", "--in", str(tmp_path / "docs"),
        "--table", str(tmp_path / "t"),
        "--checkpoint", str(tmp_path / "ck"),
    ]
    got = _run(capsys, argv)
    assert got["docs"] == 2 and got["commits"] >= 1
    got2 = _run(capsys, argv)
    assert got2 == got

    rc = cli.main([
        "curate-stream", "--in", str(tmp_path / "docs"),
        "--table", str(tmp_path / "t2"),
        "--checkpoint", str(tmp_path / "ck2"),
        "--splits", "bad",
    ])
    assert rc == 2


def test_cli_drift_monitor_knobs_end_to_end(spark, capsys):
    """VERDICT r13 #3: the drift monitor's 100 TB knobs are reachable
    from the public CLI. (1) `drift --max-vocab K` runs the CAPPED
    broadcast reference end-to-end — tail words land in the OOV
    accounting, so the capped run counts at least as many OOV tokens as
    the uncapped one (strictly more here: the smoke vocabulary exceeds
    K); (2) `--no-broadcast-reference` (the uncapped web-scale key-join
    posture) returns bit-identical rows to the broadcast default;
    (3) a cap past MAX_REFERENCE_VOCAB is the clean usage-error exit,
    not a stack trace."""
    from tests.conftest import SF_SMOKE

    docs = f"{SF_SMOKE}/documents.parquet"
    base = ["drift", "--in", docs, "--reference", docs]
    uncapped = _run(capsys, base)
    capped = _run(capsys, base + ["--max-vocab", "5"])
    keyjoin = _run(capsys, base + ["--no-broadcast-reference"])

    assert uncapped["rows"] and capped["max_vocab"] == 5
    # reference == scored corpus → every token is in the uncapped LM
    assert sum(r["oov_tokens"] for r in uncapped["rows"]) == 0
    assert sum(r["oov_tokens"] for r in capped["rows"]) > 0
    # capping only ever moves tokens INTO the OOV bucket
    for u, c in zip(uncapped["rows"], capped["rows"]):
        assert (u["w_start"], u["source"]) == (c["w_start"], c["source"])
        assert c["oov_tokens"] >= u["oov_tokens"]
        assert c["surprisal_nats"] >= u["surprisal_nats"]
    # join posture changes the physical plan, never the answer
    assert keyjoin["broadcast_reference"] is False
    assert keyjoin["rows"] == uncapped["rows"]

    rc = cli.main(base + ["--max-vocab", "5000001"])
    assert rc == 2
    assert "MAX_REFERENCE_VOCAB" in capsys.readouterr().err


def test_cli_drift_ts_col_validation(spark, tmp_path, capsys):
    """ADVICE r14: `drift --ts-col` rejects a column whose timestamp
    cast produces NULLs (unparseable or NULL values) with the clean
    exit-2 usage error instead of silently emitting a null-window row;
    a fully parseable column still runs end-to-end."""
    good = str(tmp_path / "good")
    bad = str(tmp_path / "bad")
    spark.createDataFrame(
        [(0, "alpha beta gamma", "web", "2024-01-01 00:00:00"),
         (1, "delta epsilon zeta", "web", "2024-01-01 00:05:00")],
        "doc_id long, text string, source string, crawled string",
    ).write.parquet(good)
    spark.createDataFrame(
        [(0, "alpha beta gamma", "web", "2024-01-01 00:00:00"),
         (1, "delta epsilon zeta", "web", "not-a-timestamp")],
        "doc_id long, text string, source string, crawled string",
    ).write.parquet(bad)

    base = ["drift", "--reference", good]
    got = _run(capsys, base + ["--in", good, "--ts-col", "crawled"])
    assert got["rows"] and all(r["w_start"] != "None" for r in got["rows"])

    rc = cli.main(base + ["--in", bad, "--ts-col", "crawled"])
    assert rc == 2
    err = capsys.readouterr().err
    assert "crawled" in err and "null window" in err

    # a column that isn't there at all keeps its own exit-2 message
    rc = cli.main(base + ["--in", good, "--ts-col", "nope"])
    assert rc == 2
    assert "nope" in capsys.readouterr().err


def test_cli_release_near_dup_and_span_flags(spark, tmp_path, capsys):
    """Full-funnel parity for `release` (the r7 gap pattern, closed for
    the last two stages): --near-dup and --dedup-spans were plumbed in
    run_release but not exposed on the release parser, so the composed
    release path could not run the CCNet-order fuzzy dedup the `curate`
    CLI runs. A planted near-duplicate (one appended word, Jaccard
    20/21) must survive exact dedup and fall to --near-dup; the
    span-cleaned release must publish the same doc set."""
    import hashlib

    def salad(tag: str, n: int = 20) -> str:
        return " ".join(
            hashlib.md5(f"{tag}-{k}".encode()).hexdigest()[:8] for k in range(n)
        )

    rows = [(i, salad(f"d{i}"), "en", "src0") for i in range(6)]
    rows.append((10, rows[0][1] + " zz", "en", "src0"))  # near-dup of doc 0
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(src)

    base = ["release", "--in", src, "--min-score", "-100", "--batch-id", "1"]
    plain = _run(capsys, base + ["--table", str(tmp_path / "t0")])
    assert plain["funnel"]["deduped"] == 7  # exact dedup keeps the near-dup

    fuzzy = _run(
        capsys,
        base + ["--table", str(tmp_path / "t1"), "--near-dup", "0.6"],
    )
    f = fuzzy["funnel"]
    assert list(f)[:3] == ["input", "deduped", "near_deduped"]
    assert f["deduped"] == 7 and f["near_deduped"] == 6
    assert sum(s["docs"] for s in fuzzy["splits"].values()) == 6

    spans = _run(
        capsys,
        base + ["--table", str(tmp_path / "t2"), "--dedup-spans", "8"],
    )
    assert spans["funnel"]["input"] == 7  # span rewrite precedes the funnel
