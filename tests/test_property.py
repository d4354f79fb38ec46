"""Property tests (SURVEY §5.2.4): random create/vote/delete interleavings —
the engine's set-based polls state must equal the independent row-loop
replay, and the state invariants must hold, for ANY op sequence, not just
the seed-42 fixture."""

from __future__ import annotations

import datetime
import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from haf_plug_play_spark import fixtures
from haf_plug_play_spark.ingest.envelope import parse_custom_json
from haf_plug_play_spark.plugs import PLUGS

from .compare import canonical
from .replay_oracle import replay

ACCOUNTS = ["alice", "bob", "carol"]
PERMLINKS = ["p1", "p2"]
T0 = datetime.datetime(2024, 1, 1)

op_strategy = st.one_of(
    st.tuples(
        st.just("create"),
        st.sampled_from(ACCOUNTS),
        st.sampled_from(PERMLINKS),
        st.integers(min_value=-60, max_value=360),  # expiry offset minutes
    ),
    st.tuples(
        st.just("vote"),
        st.sampled_from(ACCOUNTS),  # voter
        st.sampled_from(ACCOUNTS),  # poll author
        st.sampled_from(PERMLINKS),
        st.integers(min_value=0, max_value=6),  # answer (0 = out of range)
    ),
    st.tuples(
        st.just("delete"),
        st.sampled_from(ACCOUNTS),
        st.sampled_from(PERMLINKS),
    ),
)


def _ops_rows(ops: list[tuple]) -> list[dict]:
    rows = []
    for i, op in enumerate(ops):
        ts = T0 + datetime.timedelta(minutes=3 * i)
        if op[0] == "create":
            _, acct, permlink, exp_off = op
            payload = [
                [1, "polls-app/0.01"],
                "create",
                {
                    "permlink": permlink,
                    "question": "q?",
                    "answers": ["a", "b", "c"],
                    "expires": (ts + datetime.timedelta(minutes=exp_off)).strftime(
                        "%Y-%m-%d %H:%M:%S"
                    ),
                    "tag": "t",
                },
            ]
        elif op[0] == "vote":
            _, acct, author, permlink, answer = op
            payload = [
                [1, "polls-app/0.01"],
                "vote",
                {"author": author, "permlink": permlink, "answer": answer},
            ]
        else:
            _, acct, permlink = op
            payload = [[1, "polls-app/0.01"], "delete", {"permlink": permlink}]
        body = json.dumps(
            {
                "type": "custom_json_operation",
                "value": {
                    "id": "polls",
                    "required_auths": [],
                    "required_posting_auths": [acct],
                    "json": json.dumps(payload),
                },
            }
        )
        rows.append(
            {
                "id": i + 1,
                "block_num": 1000 + i,
                "trx_in_block": 0,
                "timestamp": ts,
                "op_type_id": 18,
                "body": body,
            }
        )
    return rows


COLS = {
    "polls_content": ["op_id_seq", "created", "permlink", "author", "question",
                      "answers", "expires", "tag", "deleted"],
    "polls_votes": ["op_id_seq", "permlink", "author", "created", "account", "answer"],
}


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=st.lists(op_strategy, min_size=1, max_size=40))
def test_polls_state_machine_equivalence(spark, ops):
    rows = _ops_rows(ops)
    expected = replay(rows, [])
    ops_df = spark.createDataFrame(rows, fixtures.OPS_SCHEMA)
    out = PLUGS["polls"].transform(parse_custom_json(ops_df))
    for table, cols in COLS.items():
        got = [tuple(r[c] for c in cols) for r in out[table].select(*cols).collect()]
        exp = [tuple(e.get(c) for c in cols) for e in expected[table]]
        assert canonical(cols, got) == canonical(cols, exp), table
    # invariants
    content = out["polls_content"].collect()
    keys = [(r.author, r.permlink) for r in content]
    assert len(keys) == len(set(keys))
    for r in content:
        if r.deleted:
            # a delete must exist after the create and at-or-before expiry
            assert any(
                o[0] == "delete"
                for o in ops
            )


# ---------------------------------------------------------------- text ops


def _py_n_tokens_ws(text: str) -> int:
    return len(text) - len(text.replace(" ", "")) + 1


def _py_n_tokens_re(text: str) -> int:
    import re

    return len(re.findall(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]", text))


_TEXT_ALPHABET = st.sampled_from(
    list("abc XYZ 019 .,!?-_#éü中 ")  # letters, digits, punct, unicode
)


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(st.text(_TEXT_ALPHABET, min_size=1, max_size=60), min_size=1, max_size=20))
def test_token_counts_match_python_reference(spark, texts):
    """The engine's codegen token counters must agree with plain-Python
    references on arbitrary text (regex-dialect drift guard)."""
    from haf_plug_play_spark.ext import text as xt
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    got = {
        r.i: (r.ws, r.re)
        for r in df.select(
            "i",
            xt.n_tokens_ws(F.col("t")).alias("ws"),
            xt.n_tokens_re(F.col("t")).alias("re"),
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == (_py_n_tokens_ws(t), _py_n_tokens_re(t)), repr(t)


@pytest.mark.usefixtures("spark")
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(st.sampled_from(list("ab cd ef gh ij ")), min_size=5, max_size=50),
        min_size=2,
        max_size=12,
    ),
    cap=st.integers(min_value=1, max_value=5),
)
def test_jaccard_df_cap_prefilter_sound(spark, texts, cap):
    """The df-capped candidate path may only LOSE pairs whose every shared
    shingle is corpus-hot; any pair it does emit must carry the exact
    full-set score — i.e. capped output ⊆ uncapped output, value-identical."""
    from haf_plug_play_spark.ext import dedup

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    full = {
        (r.id_a, r.id_b): (r.inter, r.union_sz, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b): (r.inter, r.union_sz, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, n=2, threshold=0.3, max_shingle_df=cap
        ).collect()
    }
    assert set(capped) <= set(full)
    for k, v in capped.items():
        assert v == full[k], k


# ------------------------------------------------- clustering & packing


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed min-label propagation ≡ a sequential union-find oracle
    on arbitrary random graphs (cycles, chains, self-merging components)."""
    from haf_plug_play_spark.ext.dedup import connected_components

    parent = list(range(26))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    expected = {n: find(n) for n in nodes}
    # union-find roots are not guaranteed minimal under path compression —
    # normalize: min node id per root group
    by_root = {}
    for n, r in expected.items():
        by_root.setdefault(find(r), []).append(n)
    want = {n: min(group) for group in by_root.values() for n in group}

    df = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in connected_components(df, max_iters=30).collect()}
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    toks=st.lists(st.integers(1, 500), min_size=1, max_size=30),
    budget=st.integers(10, 1000),
)
def test_pack_chunks_prefix_sum_property(spark, toks, budget):
    from haf_plug_play_spark.ext.sampling import pack_chunks

    df = spark.createDataFrame(
        [(i, "s", t) for i, t in enumerate(toks)], "doc_id long, src string, n_tok long"
    )
    rows = sorted(
        (r.doc_id, r.chunk_offset, r.chunk_id)
        for r in pack_chunks(df, ["src"], "n_tok", budget, "doc_id").collect()
    )
    run = 0
    prev_chunk = 0
    for (i, off, cid), t in zip(rows, toks):
        assert off == run
        assert cid == off // budget
        assert cid >= prev_chunk  # monotone
        prev_chunk = cid
        run += t


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(st.text(_TEXT_ALPHABET, min_size=1, max_size=60), min_size=1, max_size=20))
def test_pii_scrub_idempotent(spark, texts):
    """Scrubbing is a fixpoint: scrub(scrub(x)) == scrub(x) — the
    placeholders must never re-match any PII pattern (a '<PHONE>'-shaped
    artifact re-matching the phone regex would mean corrupted audits on
    re-runs of a pipeline stage)."""
    from pyspark.sql import functions as F

    from haf_plug_play_spark.ext import text as xt

    rows = [(i, t + " u@x.io 1.2.3.4 555-123-4567") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = xt.pii_scrub(df).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    twice = xt.pii_scrub(once)
    out = {r.doc_id: r for r in twice.collect()}
    first = {r.doc_id: r for r in xt.pii_scrub(df).collect()}
    for i in out:
        assert out[i].clean_text == first[i].clean_text
        assert (out[i].n_emails, out[i].n_ips, out[i].n_phones) == (0, 0, 0)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(st.sampled_from(list("ab ")), min_size=1, max_size=40),
        min_size=1,
        max_size=15,
    )
)
def test_segment_dedup_census_invariants(spark, texts):
    """On any corpus: (a) the census covers every doc; (b) each DISTINCT
    segment text survives exactly once across the whole corpus; (c) kept
    segment counts sum to the number of distinct segments."""
    from pyspark.sql import functions as F

    from haf_plug_play_spark.ext import dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    w = 3
    out = dedup.segment_dedup(df, seg_words=w).collect()
    assert len(out) == len(texts)
    # recompute segments in python
    def segs(t):
        ws = t.split(" ")
        return [
            " ".join(ws[i : i + w]) for i in range(0, len(ws), w)
        ]

    distinct = set()
    for t in texts:
        distinct.update(segs(t))
    assert sum(r.n_kept for r in out) == len(distinct)
    # reassembled kept text = this doc's segments that won first occurrence
    seen = set()
    for i, t in enumerate(texts):
        mine = [s for s in segs(t) if s not in seen and (seen.add(s) or True)]
        got = next(r for r in out if r.doc_id == i)
        assert got.clean_text == " ".join(mine), (t, got.clean_text)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(n=st.integers(min_value=1, max_value=200), parts=st.integers(min_value=1, max_value=7))
def test_hash_shuffle_is_partition_invariant_permutation(spark, n, parts):
    """hash_shuffle must emit a dense 1..n permutation identical under any
    partition layout (the reproducible-training-order contract)."""
    from haf_plug_play_spark.ext import sampling

    base = spark.range(n).selectExpr("id AS k")
    a = {
        r.k: r.pos
        for r in sampling.hash_shuffle(base, "k").collect()
    }
    b = {
        r.k: r.pos
        for r in sampling.hash_shuffle(base.repartition(parts), "k").collect()
    }
    assert a == b
    assert sorted(a.values()) == list(range(1, n + 1))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(min_value=1, max_value=200),
    parts=st.integers(min_value=1, max_value=8),
    seed=st.integers(min_value=0, max_value=999),
)
def test_split_assign_total_and_partition_invariant(spark, n, parts, seed):
    """Every row lands in exactly one declared split, and the assignment
    is identical under any partition layout (the no-test-set-leakage
    contract: a rerun or append can never move a row between splits)."""
    from haf_plug_play_spark.ext import sampling

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    base = spark.range(n).selectExpr("id AS k")
    a = {r.k: r.split for r in sampling.split_assign(base, "k", fr, seed).collect()}
    b = {
        r.k: r.split
        for r in sampling.split_assign(base.repartition(parts), "k", fr, seed).collect()
    }
    assert a == b
    assert set(a) == set(range(n))
    assert set(a.values()) <= set(fr)


def test_split_assign_rejects_bad_fractions(spark):
    from haf_plug_play_spark.ext import sampling

    base = spark.range(3).selectExpr("id AS k")
    with pytest.raises(ValueError):
        sampling.split_assign(base, "k", {"a": 0.5, "b": 0.6})


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_words=st.integers(min_value=1, max_value=200),
    size=st.integers(min_value=2, max_value=40),
    overlap=st.integers(min_value=0, max_value=10),
)
def test_chunk_documents_covers_every_word(spark, n_words, size, overlap):
    """Chunking must cover every word position exactly per the stride
    contract: chunk k holds words [k*stride, k*stride + size), and
    dropping each chunk's first `overlap` words (after chunk 0)
    reconstructs the document."""
    from haf_plug_play_spark.ext import text as xt

    if overlap >= size:
        overlap = size - 1
    words = [f"w{i}" for i in range(n_words)]
    doc = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    rows = sorted(
        xt.chunk_documents(doc, size=size, overlap=overlap).collect(),
        key=lambda r: r.chunk_idx,
    )
    stride = size - overlap
    rebuilt: list[str] = []
    for r in rows:
        cw = r.chunk_text.split(" ")
        assert cw == words[r.chunk_idx * stride : r.chunk_idx * stride + size]
        assert r.n_tok == len(cw)
        rebuilt.extend(cw if r.chunk_idx == 0 else cw[overlap:])
    assert rebuilt == words


# ---------------------------------------------------------------------------
# Random-interleaving properties for the r9 sync/snapshot hardening
# (VERDICT r9 #7): the example tests pinned single crash positions; these
# close the CLASS — any interleaving of appends, retries, compactions,
# forks, and mid-swap crashes must leave tables identical to a clean
# replay. Seeded stdlib random (not @given): the schedule space is small
# and discrete, Spark jobs per example make hypothesis shrinking
# pointless, and a failing seed reproduces exactly.
# ---------------------------------------------------------------------------


def test_snapshot_append_interleaving_property(spark, tmp_path):
    """Cross-history append idempotency under 100 random schedules: any
    interleaving of fresh appends (2 writers), RETRIED batches (same
    (writer, batch_id), different payload — must be ignored no matter how
    many commits landed in between), and compactions yields a table equal
    to each unique batch applied exactly once."""
    import random

    from haf_plug_play_spark.runner import snapshots as sn
    from haf_plug_play_spark.runner.fs import LocalFS

    fs = LocalFS()

    def batch_df(writer: str, batch: int, retry: bool):
        # a retry carries DIFFERENT content: if idempotency ever regresses
        # the row diff (not just the count) catches it
        tag = f"{writer}-{batch}" + ("-RETRY" if retry else "")
        return spark.createDataFrame([(writer, batch, tag)],
                                     "writer string, batch int, tag string")

    for seed in range(100):
        rng = random.Random(seed)
        t = str(tmp_path / f"tbl{seed}")
        nxt = {"A": 0, "B": 0}
        expected: set[tuple] = set()
        for _ in range(rng.randint(2, 5)):
            action = rng.choice(["append", "append", "retry", "compact"])
            w = rng.choice(["A", "B"])
            if action == "append":
                b = nxt[w]
                sn.append_snapshot(spark, batch_df(w, b, False), t, fs,
                                   batch_id=b, writer_id=w)
                expected.add((b, f"{w}-{b}", w))
                nxt[w] += 1
            elif action == "retry" and nxt[w] > 0:
                b = rng.randrange(nxt[w])
                sn.append_snapshot(spark, batch_df(w, b, True), t, fs,
                                   batch_id=b, writer_id=w)
            elif action == "compact" and expected:
                sn.rewrite_snapshot(spark, t, fs, target_files=1)
        if not expected:
            continue
        got = {
            tuple(r) for r in sn.read_snapshot(spark, t, fs)
            .select("batch", "tag", "writer").collect()
        }
        assert got == expected, f"seed {seed}: {got ^ expected}"


def test_runner_fork_backfill_interleaving_property(spark, tmp_path):
    """Fork recovery × backfill × stale-retry under random schedules,
    including crashed writes at BOTH positions (a partial or a complete
    directory the state never committed, left beside the committed ones):
    after any schedule plus a final full backfill, every silver table
    equals the clean one-shot replay and the cursor equals the log head.
    12 seeds x ~5 actions; each action runs real Spark jobs, so the seed
    count trades coverage against suite wall-clock (the schedule space is
    small: 4 action kinds over 4 chunks)."""
    import os
    import random
    import shutil

    from haf_plug_play_spark import fixtures
    from haf_plug_play_spark.ingest.envelope import parse_custom_json
    from haf_plug_play_spark.plugs import PLUGS
    from haf_plug_play_spark.runner.batch import PlugRunner

    step = 200
    ops_df, trx_df = fixtures.as_dataframes(spark, 800, 7)
    root = tmp_path / "log"
    ops_path, trx_path = str(root / "ops"), str(root / "trx")
    ops_df.write.parquet(ops_path)
    trx_df.write.parquet(trx_path)
    lo = ops_df.agg({"block_num": "min"}).first()[0]
    hi = ops_df.agg({"block_num": "max"}).first()[0]

    expected_full = PLUGS["podping"].transform(
        parse_custom_json(
            spark.read.parquet(ops_path), spark.read.parquet(trx_path)
        )
    )

    def rows(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(str(r[c]) for c in cols) for r in df.select(cols).collect()
        )

    golden = {name: rows(df) for name, df in expected_full.items()}

    for seed in range(12):
        rng = random.Random(seed)
        out = str(tmp_path / f"out{seed}")
        runner = PlugRunner(
            spark, PLUGS["podping"], ops_path, trx_path, out, step=step
        )
        runner.backfill(lo, lo + step)  # seed some synced state
        for step_no in range(rng.randint(3, 5)):
            cursor = runner.store.load("podping").latest_block_num
            action = rng.choice(["extend", "stale", "fork", "crashed_fork"])
            if action == "extend":
                runner.backfill(lo, rng.randint(cursor, hi))
            elif action == "stale":
                before = runner.store.load("podping").latest_block_num
                assert runner.backfill(lo, rng.randint(lo, cursor)) == []
                assert runner.store.load("podping").latest_block_num == before
            else:
                fork = rng.randint(lo, cursor)
                if action == "crashed_fork":
                    # inject a crashed write into a random table: a
                    # directory the state does not name, as a chunk or a
                    # fork rewrite leaves it when the process dies before
                    # its commit — mid-write or complete
                    entries = runner.store.load("podping").chunks
                    if entries:
                        tdir = runner._table_dir(rng.choice(runner._silver_table_names()))
                        src = os.path.join(tdir, rng.choice(entries)["dir"])
                        orphan = os.path.join(tdir, f"c-orphan-{seed}-{step_no}")
                        if rng.random() < 0.5:
                            os.makedirs(os.path.join(orphan, "_temporary", "0"))
                        else:
                            shutil.copytree(src, orphan)
                runner.recover_fork(fork)
                assert runner.store.load("podping").latest_block_num <= fork
        runner.backfill(lo, hi)
        assert runner.store.load("podping").latest_block_num == hi
        for name in golden:
            got = rows(runner.read_table(name)) if name in runner._silver_table_names() else rows(runner.read_gold(name))
            assert got == golden[name], f"seed {seed}: table {name} diverged"


def test_batch_live_schedule_parity_property(spark, tmp_path):
    """VERDICT r10 #8: round 10 fixed three batch/live divergences found
    by review (missing live dead-letter, time riding epoch replays,
    N+1 scans); this is the property that would have FOUND them — the
    same random op schedule delivered through ``PlugRunner.process_range``
    and ``StreamingPlugRunner._process_batch`` must leave identical
    silver tables, identical dead-letter evidence, and identical
    block-time state. Actions per schedule: advance (next chunk as the
    next epoch) and replay (the crash-between-write-and-checkpoint
    re-delivery of the LATEST chunk — the only replay a real stream
    performs). 50 seeded schedules; the action space is 2 kinds over 3
    chunks, so this covers the interleaving class, not samples it."""
    import random

    from pyspark.sql import functions as F

    from haf_plug_play_spark import fixtures
    from haf_plug_play_spark.plugs import PLUGS
    from haf_plug_play_spark.runner.batch import PlugRunner
    from haf_plug_play_spark.runner.streaming import StreamingPlugRunner

    step = 100
    ops_df, trx_df = fixtures.as_dataframes(spark, 250, 11)
    ops_path, trx_path = str(tmp_path / "ops"), str(tmp_path / "trx")
    ops_df.write.parquet(ops_path)
    trx_df.write.parquet(trx_path)
    ops_all = spark.read.parquet(ops_path)
    lo, hi = ops_all.agg(
        F.min("block_num"), F.max("block_num")
    ).first()
    chunks = []
    first = (lo // step) * step
    while first <= hi:
        chunks.append((first, min(first + step - 1, hi)))
        first += step

    def rows(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(str(r[c]) for c in cols) for r in df.select(cols).collect()
        )

    tables = ["podping_ops", "podping_updates", "_dead_letter"]
    for seed in range(50):
        rng = random.Random(seed)
        brun = PlugRunner(
            spark, PLUGS["podping"], ops_path, trx_path,
            str(tmp_path / f"b{seed}"), step=step,
        )
        srun = StreamingPlugRunner(
            spark, PLUGS["podping"], ops_path, trx_path,
            str(tmp_path / f"s{seed}"), step=step,
        )

        def deliver(idx):
            a, b = chunks[idx]
            brun.process_range(a, b)
            srun._process_batch(
                ops_all.filter(F.col("block_num").between(a, b)), idx
            )

        done = 0
        deliver(0)
        done = 1
        for _ in range(rng.randint(1, 3)):
            action = rng.choice(["advance", "replay"])
            if action == "advance" and done < len(chunks):
                deliver(done)
                done += 1
            elif action == "replay":
                deliver(done - 1)
        for t in tables:
            assert rows(brun.read_table(t)) == rows(srun.read_table(t)), (
                f"seed {seed}: table {t} diverged between batch and live"
            )
        bst = brun.store.load("podping")
        sst = srun.store.load("podping")
        assert bst.latest_block_time == sst.latest_block_time, f"seed {seed}"
        # both record a range end: batch the chunk's, live its batch's
        # (min, max) block range, i.e. the highest block SEEN — both must
        # cover every delivered op and the batch cursor the full range
        assert bst.latest_block_num == chunks[done - 1][1], f"seed {seed}"
        max_seen = ops_all.filter(
            F.col("block_num") <= chunks[done - 1][1]
        ).agg(F.max("block_num")).first()[0]
        assert sst.latest_block_num == max_seen, f"seed {seed}"


def test_weighted_reservoir_es_properties(spark):
    """Efraimidis–Spirakis reservoir: (a) exactly k per stratum,
    (b) deterministic and partition-invariant (pure function of key and
    seed), (c) weight-proportional in aggregate — a planted heavy row
    (weight 50x the others) must appear in nearly every seed's sample,
    and across seeds light rows are picked roughly uniformly."""
    from haf_plug_play_spark.ext.sampling import weighted_reservoir

    rows = [(i, "s", 50_000 if i == 0 else 1_000) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    picked_heavy = 0
    seeds = range(30)
    for seed in seeds:
        got = weighted_reservoir(
            df, ["source"], 5, "doc_id", "n_chars", seed=seed
        ).collect()
        assert len(got) == 5
        assert sorted(r.sample_rank for r in got) == [1, 2, 3, 4, 5]
        if any(r.doc_id == 0 for r in got):
            picked_heavy += 1
    # P(heavy in sample) = 1 - prod(1 - w_h/W_remaining) >= 1 - (1 - 50/149)^5
    # ≈ 0.87; thirty trials at p>=0.87 yield >= 20 inclusions w.p. ~1-1e-6
    assert picked_heavy >= 20, picked_heavy
    # determinism + partition invariance at one seed
    a = [tuple(r) for r in weighted_reservoir(
        df, ["source"], 5, "doc_id", "n_chars", seed=3).orderBy("sample_rank").collect()]
    b = [tuple(r) for r in weighted_reservoir(
        df.repartition(13), ["source"], 5, "doc_id", "n_chars", seed=3
    ).orderBy("sample_rank").collect()]
    assert a == b


@pytest.mark.usefixtures("spark")
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lex=st.lists(
        st.tuples(st.integers(0, 30), st.floats(0.0, 10.0, allow_nan=False)),
        min_size=1, max_size=12, unique_by=lambda t: t[0],
    ),
    dense=st.lists(
        st.tuples(st.integers(0, 30), st.floats(-1.0, 1.0, allow_nan=False)),
        min_size=1, max_size=12, unique_by=lambda t: t[0],
    ),
)
def test_rrf_fuse_properties(spark, lex, dense):
    """RRF invariants on arbitrary legs: every output id comes from a
    leg; the score is exactly the closed form of its two ranks; output
    is sorted by (rrf desc, id) and k-bounded; and fusing is invariant
    to input row ORDER (ranks come from the score sort, not arrival)."""
    from haf_plug_play_spark.ext import retrieval

    ldf = spark.createDataFrame(lex, "doc_id long, bm25 double")
    ddf = spark.createDataFrame(dense, "doc_id long, cosine double")
    out = retrieval.rrf_fuse(ldf, "bm25", ddf, "cosine", k=5).collect()
    assert len(out) <= 5
    ids = {i for i, _ in lex} | {i for i, _ in dense}
    # rank on the RAW score exactly as the window does (legs pre-round
    # their scores in production; the fuser itself must not re-round)
    lrank = {
        i: n + 1
        for n, (i, _) in enumerate(sorted(lex, key=lambda t: (-t[1], t[0])))
    }
    drank = {
        i: n + 1
        for n, (i, _) in enumerate(sorted(dense, key=lambda t: (-t[1], t[0])))
    }
    for row in out:
        assert row.doc_id in ids
        expect = round(
            (1.0 / (60 + lrank[row.doc_id]) if row.doc_id in lrank else 0.0)
            + (1.0 / (60 + drank[row.doc_id]) if row.doc_id in drank else 0.0),
            6,
        )
        assert row.rrf == expect
    keys = [(-r.rrf, r.doc_id) for r in out]
    assert keys == sorted(keys)
    # permutation invariance
    from pyspark.sql import functions as F

    out2 = retrieval.rrf_fuse(
        ldf.orderBy("bm25"), "bm25", ddf.orderBy(F.desc("doc_id")), "cosine", k=5
    ).collect()
    assert [(r.doc_id, r.rrf) for r in out2] == [(r.doc_id, r.rrf) for r in out]


@pytest.mark.usefixtures("spark")
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(st.text(_TEXT_ALPHABET, min_size=1, max_size=60), min_size=1, max_size=15))
def test_doc_entropy_bounds_and_reference(spark, texts):
    """Entropy invariants on arbitrary text: 0 ≤ H ≤ log2(n_tokens),
    norm in [0, 1], and both match a plain-Python reference at 6 dp."""
    import math
    from collections import Counter

    from haf_plug_play_spark.ext.report import doc_entropy

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in doc_entropy(df).collect()}
    for i, t in enumerate(texts):
        words = [w for w in t.lower().split(" ") if w]
        if not words:
            assert i not in rows
            continue
        c = Counter(words)
        L = sum(c.values())
        h = math.log2(L) - sum(v * math.log2(v) for v in c.values()) / L
        r = rows[i]
        assert r.n_tokens == L
        assert abs(r.entropy_bits - h) < 2e-6
        # entropy_bits is 6-dp ROUNDED, so it may sit up to 5e-7 above
        # the exact log2(L) bound (observed: 1.584963 vs log2(3))
        assert -1e-6 <= r.entropy_bits <= math.log2(max(L, 2)) + 1e-6
        assert -1e-6 <= r.norm_entropy <= 1 + 1e-6


def test_lsh_planner_scurve_monotonicity(spark):
    """Structural invariants over the full grid: at fixed r, more bands
    raise P(s) everywhere — fp up, fn down, s50 down; at fixed b, more
    rows sharpen the curve the other way; and every mass is a valid
    probability integral (0 ≤ mass ≤ 1)."""
    from haf_plug_play_spark.ext.registry import EXT_QUERIES

    from .conftest import SF_ORACLE

    rows = {
        (r.b, r.r): r
        for r in EXT_QUERIES["XD-lsh-planner"](spark, SF_ORACLE).collect()
    }
    for (b, r), row in rows.items():
        assert 0.0 <= row.fp_mass <= 1.0 and 0.0 <= row.fn_mass <= 1.0
        if (b + 1, r) in rows:
            nxt = rows[(b + 1, r)]
            assert nxt.fp_mass >= row.fp_mass
            assert nxt.fn_mass <= row.fn_mass
            assert nxt.s50 <= row.s50
        if (b, r + 1) in rows:
            nxt = rows[(b, r + 1)]
            assert nxt.fp_mass <= row.fp_mass
            assert nxt.fn_mass >= row.fn_mass
            assert nxt.s50 >= row.s50


@pytest.mark.usefixtures("spark")
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(st.text(_TEXT_ALPHABET, min_size=1, max_size=40), min_size=2, max_size=10))
def test_burstiness_matches_python_reference(spark, texts, tmp_path_factory):
    """Burstiness on arbitrary corpora must equal the plain-Python
    Q/S − S/N closed form for every reported word, and the report must
    be the top-k by (count desc, word)."""
    from collections import Counter

    from haf_plug_play_spark.ext.registry import EXT_QUERIES

    tmp = tmp_path_factory.mktemp("burst")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp / "documents.parquet"))
    rows = EXT_QUERIES["XT-burstiness"](spark, str(tmp)).collect()

    per_doc = [Counter(w for w in t.lower().split(" ") if w) for t in texts]
    n = len(texts)
    stats = {}
    for c in per_doc:
        for w, k in c.items():
            s, q, m = stats.get(w, (0, 0, 0))
            stats[w] = (s + k, q + k * k, m + 1)
    expect_order = sorted(stats, key=lambda w: (-stats[w][0], w))[:100]
    assert [r.word for r in rows] == expect_order
    for r in rows:
        s, q, m = stats[r.word]
        assert (r.n_total, r.n_docs) == (s, m)
        assert abs(r.burstiness - (q / s - s / n)) < 2e-6


@pytest.mark.usefixtures("spark")
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["a b c", "d e", "f", "g h i j"]),
                  st.sampled_from(["s0", "s1", "s2"])),
        min_size=1, max_size=20,
    )
)
def test_dedup_savings_accounting_invariants(spark, docs, tmp_path_factory):
    """Savings accounting on arbitrary duplicate mixes: summed kept_docs
    equals the number of distinct texts; kept ≤ total on both docs and
    tokens per source; savings_pct is the exact token ratio."""
    from haf_plug_play_spark.ext.registry import EXT_QUERIES

    tmp = tmp_path_factory.mktemp("savings")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp / "documents.parquet"))
    rows = EXT_QUERIES["XA-dedup-savings"](spark, str(tmp)).collect()

    assert sum(r.kept_docs for r in rows) == len({t for t, _ in docs})
    assert sum(r.n_docs for r in rows) == len(docs)
    for r in rows:
        assert 0 <= r.kept_docs <= r.n_docs
        assert 0 <= r.kept_tokens <= r.n_tokens
        assert r.savings_pct == round(
            100.0 * (1.0 - r.kept_tokens * 1.0 / r.n_tokens), 6
        )


@pytest.mark.usefixtures("spark")
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(st.text(_TEXT_ALPHABET, min_size=1, max_size=40), min_size=1, max_size=12))
def test_pmi_matches_python_reference(spark, texts):
    """pmi_collocations must agree with a plain-Python PMI computed from
    the same tokenization (lower + split-on-space, adjacent pairs only,
    bigrams never crossing document boundaries) on arbitrary text —
    min_count=1 and an unreachable k so the full pair set is compared,
    not just the planted head. Guards the count-table join wiring (a
    wrong join key or a stream-side join would change counts) and the
    log/ratio arithmetic."""
    import math
    from collections import Counter

    from haf_plug_play_spark.ext.colloc import pmi_collocations

    toks = [t.lower().split(" ") for t in texts]
    uni = Counter(w for ws in toks for w in ws)
    n = sum(uni.values())
    bi = Counter((ws[i - 1], ws[i]) for ws in toks for i in range(1, len(ws)))
    nb = sum(bi.values())
    ref = {
        (a, b): (c, math.log((c / nb) / ((uni[a] / n) * (uni[b] / n))))
        for (a, b), c in bi.items()
    }

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = pmi_collocations(df, k=10**6, min_count=1).collect()
    got = {(r.w1, r.w2): (r.n_pair, r.pmi) for r in rows}
    assert set(got) == set(ref)
    for key, (c_ref, pmi_ref) in ref.items():
        c_got, pmi_got = got[key]
        assert c_got == c_ref, key
        assert abs(pmi_got - pmi_ref) <= 5.1e-7, (key, pmi_got, pmi_ref)


@pytest.mark.usefixtures("spark")
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(st.sampled_from(["s0", "s1", "s2"]),
                  st.text(_TEXT_ALPHABET, min_size=0, max_size=40)),
        min_size=1, max_size=12,
    )
)
def test_jsd_matches_naive_full_vocabulary_sum(spark, docs):
    """jsd_drift_report's closed-form absent-word tail must equal the
    NAIVE JSD computed in Python by summing over the FULL corpus
    vocabulary for every source (p_sw = 0 on absent words, m = p_w/2) —
    an independent derivation of the same quantity, so an algebra slip
    in the folded tail (the 1/2·ln2·(1−mass) term) cannot cancel out.
    Also pins n_tokens/n_types and that zero-token sources are absent
    from the output, mirroring the (source, word) row semantics."""
    import math
    from collections import Counter

    from haf_plug_play_spark.ext.report import jsd_drift_report

    per_source: dict[str, Counter] = {}
    for s, t in docs:
        ws = [w for w in t.lower().split(" ") if w != ""]
        if ws:
            per_source.setdefault(s, Counter()).update(ws)
    corpus = Counter()
    for c in per_source.values():
        corpus.update(c)
    n = sum(corpus.values())

    ref = {}
    for s, cnt in per_source.items():
        n_s = sum(cnt.values())
        jsd = 0.0
        for w, c_w in corpus.items():
            p_w = c_w / n
            p_sw = cnt.get(w, 0) / n_s
            m = (p_sw + p_w) / 2.0
            if p_sw > 0.0:
                jsd += 0.5 * p_sw * math.log(p_sw / m)
            jsd += 0.5 * p_w * math.log(p_w / m)
        ref[s] = (n_s, len(cnt), jsd)

    df = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(docs)],
        "doc_id long, source string, text string",
    )
    rows = {r.source: r for r in jsd_drift_report(df).collect()}
    assert set(rows) == set(ref)
    for s, (n_s, n_types, jsd) in ref.items():
        r = rows[s]
        assert (r.n_tokens, r.n_types) == (n_s, n_types), s
        assert abs(r.jsd_nats - jsd) <= 1.1e-6, (s, r.jsd_nats, jsd)
