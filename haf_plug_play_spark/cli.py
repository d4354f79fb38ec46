"""CLI — ≙ the reference's ``haf_plug_play`` entry point
(run_plug_play.py:10-20): boot plugs, sync, report status. Here the
subcommands drive the batch runner and health over parquet op logs.

    python -m haf_plug_play_spark.cli backfill --plug polls \\
        --ops /data/ops --trx /data/trx --out /data/derived \\
        --start 1000 --end 5000 [--step 100]
    python -m haf_plug_play_spark.cli status --ops /data/ops --out /data/derived
"""

from __future__ import annotations

import argparse
import json
import sys

from haf_plug_play_spark.plugs import PLUGS
from haf_plug_play_spark.runner.batch import PlugRunner
from haf_plug_play_spark.runner.state import PlugStateStore
from haf_plug_play_spark.runner.streaming import sync_status
from haf_plug_play_spark.session import get_spark


def plan_hygiene_summary(qid: str, plan: str) -> dict:
    """One hygiene line for ``explain --all``: node counts parsed from a
    formatted plan's details section ("(N) NodeName" headers), so every
    counter — including row_udf — counts each physical node exactly once
    (the tree section renders nodes without the leading "(N) ", so it
    never double-counts). The capture tolerates punctuation in the
    header tail (ADVICE r12) — "Scan parquet spark_catalog.default.t"
    or "Filter [codegen id : 1]" both yield their leading node words;
    only the word-token prefix is kept, so the counters' exact-match
    names stay stable."""
    import re

    nodes = re.findall(r"^\(\d+\) (\S+(?: \w+)*)", plan, re.M)
    return {
        "query": qid,
        # leaf reads: file/RDD scans plus LocalTableScan (a batch-degenerate
        # stateful query's local-relation leaf) — every plan has >= 1
        "scans": sum(
            n.startswith("Scan") or n == "LocalTableScan" for n in nodes
        ),
        "exchanges": sum(n == "Exchange" for n in nodes),
        "bhj": sum(n == "BroadcastHashJoin" for n in nodes),
        "smj": sum(n == "SortMergeJoin" for n in nodes),
        "windows": sum(n == "Window" for n in nodes),
        "topk": sum(n == "TakeOrderedAndProject" for n in nodes),
        "cartesian": sum(n == "CartesianProduct" for n in nodes),
        "row_udf": sum(n == "BatchEvalPython" for n in nodes),
    }


def _add_common(p: argparse.ArgumentParser) -> None:
    # not argparse-required: a --config file may supply them (resolved in
    # main, flags win — the reference's Config feeds its runner the same
    # way, run_plug_play.py + config.py)
    p.add_argument("--ops", default=None, help="op-log parquet path")
    p.add_argument("--out", default=None, help="derived-table output root")
    p.add_argument(
        "--config", default=None,
        help="key=value config file supplying ops/trx/out/step defaults",
    )


def _apply_config(args: argparse.Namespace) -> None:
    """Fill unset CLI args from --config (flags always win); missing
    required settings raise ConfigError with the field name."""
    from haf_plug_play_spark.config import ConfigError, load_config

    conf = load_config(args.config) if getattr(args, "config", None) else {}
    mapping = {"ops": "ops_path", "trx": "trx_path", "out": "out_dir", "step": "step"}
    for attr, field in mapping.items():
        if hasattr(args, attr) and getattr(args, attr) is None and field in conf:
            setattr(args, attr, conf[field])
    for attr in ("ops", "out"):
        if hasattr(args, attr) and getattr(args, attr) is None:
            raise ConfigError(
                f"--{attr} is required (flag or {mapping[attr]} in --config)"
            )


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="haf_plug_play_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("backfill", help="massive-sync a plug over a block range")
    _add_common(b)
    b.add_argument("--trx", default=None, help="transactions parquet path")
    b.add_argument("--plug", required=True, choices=sorted(PLUGS))
    b.add_argument("--start", type=int, required=True)
    b.add_argument("--end", type=int, required=True)
    b.add_argument("--step", type=int, default=None)  # config may supply; 100 otherwise

    s = sub.add_parser("status", help="sync health (≙ GET /api)")
    _add_common(s)

    cu = sub.add_parser(
        "curate",
        help="run the corpus-curation funnel (dedup → gates → sample → "
        "split → pack) over a documents parquet (ext/curate.py)",
    )
    cu.add_argument(
        "--in", dest="in_path", required=True,
        help="documents corpus (parquet, .jsonl, or .csv)",
    )
    cu.add_argument("--out", required=True, help="curated output dir")
    cu.add_argument(
        "--in-format", default=None, choices=["parquet", "jsonl", "csv"],
        help="override extension-based input detection",
    )
    cu.add_argument(
        "--out-format", default="parquet", choices=["parquet", "jsonl"],
    )
    cu.add_argument("--min-score", type=float, default=2.0)
    cu.add_argument("--langs", default=None, help="comma-separated lang allowlist")
    cu.add_argument("--rate", type=float, default=1.0, help="Bernoulli sample rate")
    cu.add_argument("--budget", type=int, default=2048, help="tokens per chunk")
    cu.add_argument("--seed", type=int, default=7)
    cu.add_argument(
        "--near-dup", type=float, default=None, metavar="JACCARD",
        help="also MinHash-near-dedup exact-dedup survivors at this "
        "Jaccard threshold (adds bounded clustering jobs)",
    )
    cu.add_argument(
        "--decontam-eval", default=None, metavar="PATH",
        help="also drop documents whose n-gram shingles overlap this "
        "eval corpus (broadcast n-gram decontamination, ext/dedup.py:"
        "eval_overlap)",
    )
    cu.add_argument(
        "--decontam-min-frac", type=float, default=0.5,
        help="distinct-shingle overlap fraction that counts as "
        "contaminated (with --decontam-eval)",
    )
    cu.add_argument(
        "--dsir-target", default=None, metavar="SQL_EXPR",
        help="also keep only documents whose DSIR log importance weight "
        "against this target subset (a SQL boolean over the input "
        "columns, e.g. \"source = 'src0'\") exceeds --dsir-tau",
    )
    cu.add_argument(
        "--dsir-tau", type=float, default=0.0,
        help="DSIR log-weight keep threshold (with --dsir-target)",
    )
    cu.add_argument(
        "--min-entropy", type=float, default=None, metavar="NORM",
        help="also drop documents whose normalized word entropy "
        "(ext/report.py:doc_entropy, 0..1) falls below this — the "
        "repeated-token boilerplate gate",
    )
    cu.add_argument(
        "--dedup-spans", type=int, default=None, metavar="WINDOW",
        help="pre-funnel keep-one-copy exact-substring removal at this "
        "word window (ext/dedup.py:remove_duplicated_spans); later "
        "stages see the cleaned text",
    )

    rl = sub.add_parser(
        "release",
        help="the full data-release pipeline in one invocation: curate "
        "funnel → recipe mixture rates applied → split → pack → "
        "append_snapshot publish with a written manifest "
        "(ext/curate.py:run_release)",
    )
    rl.add_argument(
        "--in", dest="in_path", required=True,
        help="documents corpus (parquet, .jsonl, or .csv)",
    )
    rl.add_argument("--table", required=True, help="snapshot table dir to publish into")
    rl.add_argument(
        "--in-format", default=None, choices=["parquet", "jsonl", "csv"]
    )
    rl.add_argument(
        "--mix", default=None, metavar="RECIPE",
        help="comma-separated target token shares per stratum, e.g. "
        "'src0=0.4,src1=0.3' — derives and applies the one-epoch "
        "Bernoulli rates (ext/sampling.py:mixture_report); strata "
        "absent from the recipe are dropped",
    )
    rl.add_argument(
        "--stratum", default="source", help="mixture stratum column"
    )
    rl.add_argument("--min-score", type=float, default=2.0)
    rl.add_argument("--langs", default=None, help="comma-separated lang allowlist")
    rl.add_argument("--rate", type=float, default=1.0, help="Bernoulli sample rate")
    rl.add_argument("--budget", type=int, default=2048, help="tokens per chunk")
    rl.add_argument("--seed", type=int, default=7)
    # full-funnel parity with `curate`: run_release already plumbs these
    # (ext/curate.py:run_release), the flags just weren't exposed (r7 gap)
    rl.add_argument(
        "--near-dup", type=float, default=None, metavar="JACCARD",
        help="also MinHash-near-dedup exact-dedup survivors at this "
        "Jaccard threshold (see `curate --near-dup`)",
    )
    rl.add_argument(
        "--dedup-spans", type=int, default=None, metavar="WINDOW",
        help="pre-funnel keep-one-copy exact-substring removal at this "
        "word window (see `curate --dedup-spans`)",
    )
    rl.add_argument(
        "--decontam-eval", default=None, metavar="PATH",
        help="drop documents whose n-gram shingles overlap this eval "
        "corpus before release (see `curate --decontam-eval`)",
    )
    rl.add_argument(
        "--decontam-min-frac", type=float, default=0.5,
        help="overlap fraction that counts as contaminated "
        "(with --decontam-eval)",
    )
    rl.add_argument(
        "--dsir-target", default=None, metavar="SQL_EXPR",
        help="DSIR importance gate against this SQL boolean target subset "
        "(see `curate --dsir-target`)",
    )
    rl.add_argument(
        "--dsir-tau", type=float, default=0.0,
        help="DSIR log-weight keep threshold (with --dsir-target)",
    )
    rl.add_argument(
        "--min-entropy", type=float, default=None, metavar="NORM",
        help="normalized-entropy boilerplate gate "
        "(see `curate --min-entropy`)",
    )
    rl.add_argument(
        "--batch-id", type=int, default=None,
        help="idempotency key: re-releasing the current (writer, batch) "
        "is a no-op (exactly-once publication)",
    )
    rl.add_argument("--writer-id", default="release")
    rl.add_argument(
        "--fs", default="local", choices=["local", "object"],
        help="control-plane filesystem for the snapshot commit (see "
        "`snapshot --fs`)",
    )

    vo = sub.add_parser(
        "vocab",
        help="learn BPE merge rules from a documents corpus (ext/bpe.py)",
    )
    vo.add_argument("--in", dest="in_path", required=True)
    vo.add_argument(
        "--in-format", default=None, choices=["parquet", "jsonl", "csv"]
    )
    vo.add_argument("--merges", type=int, default=16)

    rp = sub.add_parser(
        "report",
        help="corpus diagnostics as one JSON document: Zipf/Heaps "
        "structure, per-(source, lang) tokenizer fertility, per-source "
        "KL drift, per-source DoReMi mixture weights, per-source "
        "distinct-shingle HLL estimates (production certify=False "
        "path); --embeddings adds the per-label embedding-QC leg — "
        "ext/report.py, ext/embqc.py",
    )
    rp.add_argument("--in", dest="in_path", required=True)
    rp.add_argument(
        "--in-format", default=None, choices=["parquet", "jsonl", "csv"]
    )
    rp.add_argument(
        "--embeddings",
        default=None,
        help="optional labeled embeddings parquet (vec_id, embedding, "
        "label); adds an embedding_qc key to the bundle",
    )
    rp.add_argument(
        "--persist",
        action="store_true",
        help="cache the corpus across the bundle's passes (interactive/"
        "sf-scale; at 100 TB prefer the default re-scan). The shared "
        "(source, word) vocab table is cached either way.",
    )

    ex = sub.add_parser(
        "explain",
        help="print the physical plan of a declared query (plan hygiene: "
        "pushdown, broadcast, TakeOrderedAndProject — SCALE.md evidence)",
    )
    ex.add_argument(
        "query", nargs="?", default=None,
        help="query id from __spark_entry__.queries(); omit with --all",
    )
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.add_argument(
        "--mode", default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    ex.add_argument(
        "--all", action="store_true",
        help="instead of one plan, print a one-JSON-line hygiene summary "
        "per declared query (scans, joins, windows, top-k, cartesian, "
        "row-UDF nodes) — the CLI form of the global plan sweep "
        "(tests/test_plans.py)",
    )

    cs = sub.add_parser(
        "curate-stream",
        help="the daily-crawl loop as a streaming job: drain a parquet "
        "document directory as a file-source stream, incremental-MinHash "
        "dedup each micro-batch against the published snapshot table "
        "(first-wins), assign splits, append exactly-once "
        "(ext/curate.py:start_curation_stream)",
    )
    cs.add_argument("--in", dest="in_path", required=True,
                    help="documents parquet directory (the stream source)")
    cs.add_argument("--table", required=True, help="published snapshot table dir")
    cs.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint dir (replay/exactly-once key)")
    cs.add_argument(
        "--splits", default="train=0.9,val=0.05,test=0.05",
        help="comma-separated split fractions; 'none' to skip assignment",
    )
    cs.add_argument("--threshold", type=float, default=0.5,
                    help="near-dup Jaccard threshold")

    dr = sub.add_parser(
        "drift",
        help="corpus-drift monitor (streaming/drift.py): score --in "
        "against a pinned reference unigram LM built from --reference — "
        "per event-time window and source, mean surprisal (nats) and "
        "OOV rate. Batch form of the identical streaming code path "
        "(QSD-stream-drift); output is windows × sources bounded.",
    )
    dr.add_argument(
        "--in", dest="in_path", required=True,
        help="documents corpus to score (parquet, .jsonl, or .csv)",
    )
    dr.add_argument(
        "--in-format", default=None, choices=["parquet", "jsonl", "csv"]
    )
    dr.add_argument(
        "--reference", required=True,
        help="reference corpus the pinned unigram LM is built from",
    )
    dr.add_argument(
        "--reference-format", default=None,
        choices=["parquet", "jsonl", "csv"],
    )
    dr.add_argument(
        "--max-vocab", type=int, default=None,
        help="cap the reference at the top-K words by count "
        "(streaming/drift.py:reference_unigram) — the broadcast-budget "
        "dial for a web-scale reference; hard ceiling "
        "MAX_REFERENCE_VOCAB, past which use --no-broadcast-reference "
        "with no cap instead",
    )
    dr.add_argument(
        "--no-broadcast-reference", dest="broadcast_reference",
        action="store_false", default=True,
        help="join the reference by key instead of broadcasting it — "
        "the posture for an uncapped reference too large to broadcast",
    )
    dr.add_argument(
        "--window", default="5 minutes", help="event-time window width"
    )
    dr.add_argument(
        "--ts-col", default=None,
        help="event-time column in --in; when absent, arrival order is "
        "synthesized deterministically from doc_id (2024-01-01 + "
        "doc_id seconds, the QSD-stream-drift convention)",
    )

    sn = sub.add_parser(
        "snapshot",
        help="manifest-committed snapshot table ops — the object-store-safe "
        "publication path (runner/snapshots.py)",
    )
    sn.add_argument(
        "action", choices=["publish", "rewrite", "vacuum", "log", "read"]
    )
    sn.add_argument("--table", required=True, help="snapshot table dir")
    sn.add_argument(
        "--source", default=None, help="parquet path to publish (publish only)"
    )
    sn.add_argument("--keep-last", type=int, default=2)
    sn.add_argument("--target-files", type=int, default=8)
    sn.add_argument("--delete-orphans", action="store_true")
    sn.add_argument(
        "--snapshot-id", type=int, default=None,
        help="time-travel target for `read` (default: current)",
    )
    sn.add_argument(
        "--fs", default="local", choices=["local", "object"],
        help="control-plane filesystem: `local` (flock CAS) or `object` — "
        "the conditional-PUT object-store protocol (runner/fs.py:"
        "ObjectStoreFS; emulated file-backed store locally, a boto3/GCS "
        "adapter satisfies the same five-method client seam unchanged)",
    )

    return parser


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd in ("backfill", "status"):
        from haf_plug_play_spark.config import ConfigError

        try:
            _apply_config(args)
        except ConfigError as exc:
            # the clean usage-error exit argparse gave when --ops/--out
            # were argparse-required; config problems exit the same way
            print(f"error: {exc}", file=sys.stderr)
            return 2
        if getattr(args, "step", None) is None:
            args.step = 100
    spark = get_spark("haf_plug_play_spark_cli")
    if args.cmd == "backfill":
        runner = PlugRunner(
            spark, PLUGS[args.plug], args.ops, args.trx, args.out, step=args.step
        )
        ranges = runner.backfill(args.start, args.end)
        print(
            json.dumps(
                {
                    "plug": args.plug,
                    "chunks": len(ranges),
                    "cursor": runner.store.load(args.plug).latest_block_num,
                }
            )
        )
    elif args.cmd == "status":
        import os

        store = PlugStateStore(os.path.join(args.out, "_state"))
        print(json.dumps(sync_status(spark, args.ops, store, list(PLUGS.values()))))
    elif args.cmd == "curate":
        from haf_plug_play_spark.ext.curate import run_curate

        summary = run_curate(
            spark,
            args.in_path,
            args.out,
            in_format=args.in_format,
            out_format=args.out_format,
            min_score=args.min_score,
            langs=args.langs.split(",") if args.langs else None,
            sample_rate=args.rate,
            budget=args.budget,
            seed=args.seed,
            near_dup_threshold=args.near_dup,
            decontam_eval_path=args.decontam_eval,
            decontam_min_frac=args.decontam_min_frac,
            dsir_target_expr=args.dsir_target,
            dsir_tau=args.dsir_tau,
            min_entropy=args.min_entropy,
            remove_dup_spans=args.dedup_spans,
        )
        print(json.dumps(summary))
    elif args.cmd == "release":
        from haf_plug_play_spark.ext.curate import run_release
        from haf_plug_play_spark.runner.fs import (
            ConcurrentWriteError,
            EmulatedObjectStore,
            ObjectStoreFS,
        )

        mix = None
        if args.mix:
            try:
                mix = {
                    k.strip(): float(v)
                    for k, v in (pair.split("=", 1) for pair in args.mix.split(","))
                }
            except ValueError:
                print(
                    "error: --mix expects 'stratum=share,...' with numeric "
                    f"shares, got {args.mix!r}",
                    file=sys.stderr,
                )
                return 2
        fs = (
            ObjectStoreFS(EmulatedObjectStore()) if args.fs == "object" else None
        )
        try:
            summary = run_release(
                spark,
                args.in_path,
                args.table,
                mix_targets=mix,
                in_format=args.in_format,
                fs=fs,
                batch_id=args.batch_id,
                writer_id=args.writer_id,
                stratum_col=args.stratum,
                min_score=args.min_score,
                langs=args.langs.split(",") if args.langs else None,
                sample_rate=args.rate,
                budget=args.budget,
                seed=args.seed,
                near_dup_threshold=args.near_dup,
                remove_dup_spans=args.dedup_spans,
                decontam_eval_path=args.decontam_eval,
                decontam_min_frac=args.decontam_min_frac,
                dsir_target_expr=args.dsir_target,
                dsir_tau=args.dsir_tau,
                min_entropy=args.min_entropy,
            )
        except ConcurrentWriteError as exc:
            print(
                json.dumps({"action": "release", "error": str(exc)}),
                file=sys.stderr,
            )
            return 3
        print(json.dumps(summary))
    elif args.cmd == "explain":
        from haf_plug_play_spark.ext.registry import EXT_QUERIES
        from haf_plug_play_spark.queries.advanced import ADVANCED_QUERIES
        from haf_plug_play_spark.queries.canonical import CANONICAL_QUERIES

        registry = {**CANONICAL_QUERIES, **ADVANCED_QUERIES, **EXT_QUERIES}
        if args.all:
            import io
            from contextlib import redirect_stdout

            for qid in sorted(registry):
                buf = io.StringIO()
                with redirect_stdout(buf):
                    registry[qid](spark, args.sf_dir).explain("formatted")
                print(json.dumps(plan_hygiene_summary(qid, buf.getvalue())))
            return 0
        if args.query is None:
            print("error: give a query id or --all", file=sys.stderr)
            return 2
        if args.query not in registry:
            print(
                f"error: unknown query {args.query!r}; known: "
                + " ".join(sorted(registry)),
                file=sys.stderr,
            )
            return 2
        registry[args.query](spark, args.sf_dir).explain(args.mode)
    elif args.cmd == "curate-stream":
        from haf_plug_play_spark.ext.curate import start_curation_stream
        from haf_plug_play_spark.runner import snapshots as sn_mod

        splits = None
        if args.splits and args.splits.lower() != "none":
            try:
                splits = {
                    k.strip(): float(v)
                    for k, v in (
                        pair.split("=", 1) for pair in args.splits.split(",")
                    )
                }
            except ValueError:
                print(
                    "error: --splits expects 'name=frac,...' with numeric "
                    f"fractions, got {args.splits!r}",
                    file=sys.stderr,
                )
                return 2
        schema = spark.read.parquet(args.in_path).schema
        q = start_curation_stream(
            spark,
            args.in_path,
            schema,
            args.table,
            args.checkpoint,
            splits=splits,
            threshold=args.threshold,
        )
        q.awaitTermination()
        from haf_plug_play_spark.runner.fs import LocalFS

        chain = sn_mod.committed_chain(args.table, LocalFS())
        final = sn_mod.read_snapshot(spark, args.table)
        print(
            json.dumps(
                {
                    "action": "curate-stream",
                    "commits": len(chain),
                    "docs": final.count(),
                }
            )
        )
    elif args.cmd == "vocab":
        from haf_plug_play_spark.ext.bpe import learn_bpe_merges
        from haf_plug_play_spark.sources.corpus import read_corpus

        docs = read_corpus(spark, args.in_path, args.in_format)
        print(json.dumps({"merges": learn_bpe_merges(docs, args.merges)}))
    elif args.cmd == "report":
        from haf_plug_play_spark.ext.report import corpus_report
        from haf_plug_play_spark.sources.corpus import read_corpus

        docs = read_corpus(spark, args.in_path, args.in_format)
        bundle = corpus_report(docs, persist=args.persist)
        if args.embeddings:
            from haf_plug_play_spark.ext.embqc import embedding_qc

            emb = spark.read.parquet(args.embeddings)
            bundle["embedding_qc"] = [
                r.asDict() for r in embedding_qc(emb).collect()
            ]
        print(json.dumps(bundle))
    elif args.cmd == "drift":
        from pyspark.sql import functions as F

        from haf_plug_play_spark.sources.corpus import read_corpus
        from haf_plug_play_spark.streaming.drift import (
            reference_unigram,
            windowed_surprisal_drift,
        )

        ref_docs = read_corpus(spark, args.reference, args.reference_format)
        try:
            ref = reference_unigram(ref_docs, max_vocab=args.max_vocab)
        except ValueError as exc:
            # the MAX_REFERENCE_VOCAB ceiling: same clean usage-error
            # exit as the other flag-validation failures
            print(f"error: {exc}", file=sys.stderr)
            return 2
        docs = read_corpus(spark, args.in_path, args.in_format)
        if args.ts_col is not None:
            if args.ts_col not in docs.columns:
                print(
                    f"error: --ts-col {args.ts_col!r} not in input columns "
                    f"{docs.columns}", file=sys.stderr,
                )
                return 2
            timed = docs.select(
                F.col(args.ts_col).cast("timestamp").alias("ts"),
                "source",
                "text",
            )
            # ADVICE r14: an unparseable (or NULL) value silently casts
            # to NULL and would land in a null-window row — make it the
            # same clean exit-2 usage error as every other flag-
            # validation failure. limit(1) keeps the probe bounded: it
            # short-circuits at the first bad value instead of counting
            # them all.
            if timed.filter(F.col("ts").isNull()).limit(1).count():
                print(
                    f"error: --ts-col {args.ts_col!r} contains values "
                    "that are NULL or do not parse as timestamps; the "
                    "cast would place those rows in a null window",
                    file=sys.stderr,
                )
                return 2
        elif "doc_id" in docs.columns:
            timed = docs.select(
                F.timestamp_seconds(
                    F.lit(1704067200) + F.col("doc_id")
                ).alias("ts"),
                "source",
                "text",
            )
        else:
            print(
                "error: input has neither --ts-col nor doc_id to "
                "synthesize event time from", file=sys.stderr,
            )
            return 2
        out = (
            windowed_surprisal_drift(
                timed,
                ref,
                window=args.window,
                broadcast_reference=args.broadcast_reference,
            )
            .orderBy("w_start", "source")
            .collect()
        )
        print(
            json.dumps(
                {
                    "action": "drift",
                    "max_vocab": args.max_vocab,
                    "broadcast_reference": args.broadcast_reference,
                    "rows": [
                        {**r.asDict(), "w_start": str(r.w_start)}
                        for r in out
                    ],
                }
            )
        )
    elif args.cmd == "snapshot":
        from haf_plug_play_spark.runner import snapshots as sn
        from haf_plug_play_spark.runner.fs import (
            ConcurrentWriteError,
            EmulatedObjectStore,
            ObjectStoreFS,
        )

        fs = (
            ObjectStoreFS(EmulatedObjectStore())
            if args.fs == "object"
            else sn.LocalFS()
        )
        try:
            if args.action == "publish":
                if not args.source:
                    raise SystemExit("snapshot publish requires --source")
                m = sn.commit_snapshot(
                    spark, spark.read.parquet(args.source), args.table, fs
                )
                print(json.dumps({"action": "publish", **m}))
            elif args.action == "rewrite":
                m = sn.rewrite_snapshot(
                    spark, args.table, fs, target_files=args.target_files
                )
                print(json.dumps({"action": "rewrite", **m}))
            elif args.action == "vacuum":
                rep = sn.vacuum(
                    args.table,
                    fs,
                    keep_last=args.keep_last,
                    delete_orphans=args.delete_orphans,
                )
                print(json.dumps({"action": "vacuum", **rep}))
            elif args.action == "read":
                df = sn.read_snapshot(
                    spark, args.table, fs, snapshot_id=args.snapshot_id
                )
                resolved = args.snapshot_id
                if resolved is None:
                    # report the id actually read, not the flag: operators
                    # reading the CURRENT snapshot need to know which one
                    # that was (ADVICE r7)
                    cur = sn.current_manifest(args.table, fs)
                    resolved = cur["snapshot_id"] if cur else None
                print(
                    json.dumps(
                        {
                            "action": "read",
                            "snapshot_id": resolved,
                            "rows": df.count(),
                            "columns": df.columns,
                        }
                    )
                )
            else:  # log
                chain = sn.committed_chain(args.table, fs)
                print(
                    json.dumps(
                        {
                            "action": "log",
                            "snapshots": [
                                {
                                    "snapshot_id": m["snapshot_id"],
                                    "parent": m["parent"],
                                    "data_dirs": sn._data_dirs(m),
                                    "committed_utc": m["committed_utc"],
                                }
                                for m in chain
                            ],
                        }
                    )
                )
        except ConcurrentWriteError as exc:
            # the CAS loser's contract: clean refusal, staged objects
            # already self-deleted by _commit — an operator re-runs the
            # publish against the new current snapshot
            print(
                json.dumps({"action": args.action, "error": str(exc)}),
                file=sys.stderr,
            )
            return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
