"""Incremental assembly (streaming/packing.py): stream == batch
equivalence for any batch split, per-shard state (packed total + tail)
across chunk boundaries, retry and crash safety of the one state store,
compaction, and the real foreachBatch wiring."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from bigdatastructure_a5_spark.operators.packing import concat_and_chunk
from bigdatastructure_a5_spark.streaming.packing import (
    assemble_batch,
    compact_state,
    read_state,
    streaming_assembly_writer,
)

L = 16
TOK_SCHEMA = "doc_id bigint, shard bigint, toks array<string>"


def _splits(docs, k):
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[int(len(ids) * i / k)] for i in range(1, k)]
    lo = None
    for hi in cuts + [None]:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("doc_id") >= lo)
        if hi is not None:
            cond = cond & (F.col("doc_id") < hi)
        yield docs.filter(cond)
        lo = hi


def _tok_docs(spark, counts, shards=None):
    rows = [
        (
            i,
            (i % 2) if shards is None else shards[i],
            [f"w{i}_{j}" for j in range(n)],
        )
        for i, n in enumerate(counts)
    ]
    return spark.createDataFrame(rows, TOK_SCHEMA)


def _tok_batch(spark, rows):
    """(doc_id, shard, n_tokens) triples -> a token batch whose doc d
    carries tokens w{d}_0 .. w{d}_{n-1}."""
    return spark.createDataFrame(
        [(d, s, [f"w{d}_{j}" for j in range(n)]) for d, s, n in rows],
        TOK_SCHEMA,
    )


def _words(d, lo, hi):
    return [f"w{d}_{j}" for j in range(lo, hi)]


def _batch_assembled(spark, docs):
    """Batch-mode twin: assemble the whole corpus, return complete
    chunks {(shard, chunk_id): toks} and partial tails {shard: toks}."""
    from bigdatastructure_a5_spark.operators.packing import assemble_chunks

    combined = docs.withColumn("n_tokens", F.size("toks").cast("bigint"))
    geo = concat_and_chunk(
        combined, L, n_tokens_col="n_tokens", shard_col="shard"
    )
    asm = assemble_chunks(
        geo,
        combined.select("shard", "doc_id", "toks"),
        id_cols=["shard", "doc_id"],
        shard_col="shard",
    ).collect()
    complete = {
        (r.shard, r.chunk_id): list(r.toks) for r in asm if r.n_tokens == L
    }
    tails = {r.shard: list(r.toks) for r in asm if r.n_tokens < L}
    return complete, tails


def _read_out(spark, out):
    rows = spark.read.parquet(out).collect()
    return {(r.shard, r.chunk_id): list(r.toks) for r in rows}


def _state(spark, state_dir, before_batch_id=None):
    """{shard: (packed, tail toks)} from read_state."""
    return {
        r.shard: (r.packed, list(r.toks))
        for r in read_state(spark, state_dir, before_batch_id).collect()
    }


def _packed(spark, state_dir):
    return {s: p for s, (p, _) in _state(spark, state_dir).items()}


def _n_parquet(path):
    return sum(
        1
        for dp, _, fns in os.walk(path)
        for f in fns
        if f.endswith(".parquet")
    )


def _write_ordered_splits(docs, src, k):
    """Write k id-ordered splits of ``docs`` under ``src`` with ascending
    mtimes — the file source admits oldest-mtime-first, so a
    maxFilesPerTrigger=1 stream sees them as id-ordered microbatches."""
    src.mkdir()
    base_t = time.time() - 100
    for i, b in enumerate(_splits(docs, k)):
        p = str(src / f"split_{i}.parquet")
        b.coalesce(1).write.mode("overwrite").parquet(p)
        for f in sorted(
            os.path.join(dp, fn)
            for dp, _, fns in os.walk(p)
            for fn in fns
        ):
            os.utime(f, (base_t + i, base_t + i))


def test_carry_accumulates_per_shard(spark, tmp_path):
    """The state is one row per shard: after two batches `packed` is each
    shard's total packed tokens (zero-token docs excluded) and `toks` its
    partial tail — empty for a shard ending exactly on a chunk boundary.
    The state dir holds ONE store, and each batch appends one file."""
    state, out = str(tmp_path / "state2"), str(tmp_path / "out2")
    b1 = _tok_batch(spark, [(0, 0, 5), (1, 1, 7), (2, 0, 0)])
    b2 = _tok_batch(spark, [(3, 0, 11), (4, 1, 2)])
    assemble_batch(spark, b1, state, out, L, batch_id=0)
    assert sorted(os.listdir(state)) == ["shards"]
    assemble_batch(spark, b2, state, out, L, batch_id=1)
    assert _state(spark, state) == {
        0: (16, []),
        1: (9, _words(1, 0, 7) + _words(4, 0, 2)),
    }
    assert sorted(os.listdir(state)) == ["shards"]
    assert _n_parquet(os.path.join(state, "shards")) == 2


def test_retried_batch_does_not_double_count_carry(spark, tmp_path):
    """foreachBatch retries re-run the same batch_id: the retry reads only
    STRICTLY EARLIER state rows, so it packs at the same base even though
    the first attempt already appended this batch's state row (ADVICE r10
    high), and re-appends an identical row — `packed` is counted once.
    The worst case is a crash between foreachBatch return and checkpoint
    commit: output written, state written, batch redelivered whole."""
    state, out = str(tmp_path / "state3"), str(tmp_path / "out3")
    b1 = _tok_batch(spark, [(0, 0, 20), (1, 1, 7)])
    assemble_batch(spark, b1, state, out, L, batch_id=0)
    first = _state(spark, state)
    assemble_batch(spark, b1, state, out, L, batch_id=0)  # retry
    assert _state(spark, state) == first
    assert first == {0: (20, _words(0, 16, 20)), 1: (7, _words(1, 0, 7))}
    # a FOLLOWING batch still packs at the single-counted position
    b2 = _tok_batch(spark, [(2, 0, 12)])
    assemble_batch(spark, b2, state, out, L, batch_id=1)
    assert _read_out(spark, out)[(0, 1)] == _words(0, 16, 20) + _words(
        2, 0, 12
    )
    assert _packed(spark, state) == {0: 32, 1: 7}


def test_crash_between_geometry_and_carry_is_retry_safe(
    spark, tmp_path, monkeypatch
):
    """Crash BETWEEN the two sinks (chunks written, state not yet — the
    write order assemble_batch guarantees, VERDICT r10 item 8): no state
    row lands, the retry re-packs at the same base, appending
    byte-identical duplicate chunks, the deduplicated output equals the
    batch assembler's, and `packed` is counted once."""
    from collections import Counter

    from bigdatastructure_a5_spark.streaming import packing as P

    state, out = str(tmp_path / "state5"), str(tmp_path / "out5")
    assemble_batch(
        spark, _tok_batch(spark, [(0, 0, 5), (1, 1, 7)]), state, out, L,
        batch_id=0,
    )
    b2 = _tok_batch(spark, [(2, 0, L + 3), (3, 1, 2)])

    # first attempt of batch 1 crashes right after its output write
    real_write = P._write_output

    def write_then_crash(*args, **kwargs):
        real_write(*args, **kwargs)
        raise RuntimeError("simulated crash after output")

    monkeypatch.setattr(P, "_write_output", write_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        assemble_batch(spark, b2, state, out, L, batch_id=1)
    monkeypatch.undo()
    assert _packed(spark, state) == {0: 5, 1: 7}  # no state row landed

    # redelivery: the full body runs again with the same batch_id
    assemble_batch(spark, b2, state, out, L, batch_id=1)

    rows = [
        (r.shard, r.chunk_id, tuple(r.toks))
        for r in spark.read.parquet(out).collect()
    ]
    # every emitted row appears exactly twice, byte-identical
    assert set(Counter(rows).values()) == {2} and len(rows) > 0
    both = _tok_docs(spark, [5, 7, L + 3, 2], shards=[0, 1, 0, 1])
    want_complete, want_tails = _batch_assembled(spark, both)
    assert _read_out(spark, out) == want_complete
    assert _state(spark, state) == {
        s: (n, want_tails.get(s, []))
        for s, n in {0: 5 + L + 3, 1: 9}.items()
    }


def test_existing_but_unreadable_state_dir_raises(spark, tmp_path):
    """A state dir that EXISTS but fails analysis (empty dir — 'unable
    to infer schema') must raise, not masquerade as first-batch: packing
    from base 0 over real prior state silently overlaps chunk ids
    (ADVICE r10).  A genuinely missing path still means first batch."""
    from pyspark.errors import AnalysisException

    state = tmp_path / "state6"
    assert read_state(spark, str(state)) is None  # missing -> first batch
    (state / "shards").mkdir(parents=True)  # exists, no parquet inside
    with pytest.raises(AnalysisException):
        read_state(spark, str(state))


def test_new_shard_mid_stream_starts_at_zero(spark, tmp_path):
    """A shard first seen in batch 2 has no state row — its stream
    starts at position 0 (chunk_id 0), while existing shards continue."""
    state, out = str(tmp_path / "state4"), str(tmp_path / "out4")
    assemble_batch(
        spark, _tok_batch(spark, [(0, 0, L + 2)]), state, out, L,
        batch_id=0,
    )
    assemble_batch(
        spark, _tok_batch(spark, [(1, 0, 14), (2, 9, L + 1)]), state, out,
        L, batch_id=1,
    )
    assert _read_out(spark, out) == {
        (0, 0): _words(0, 0, L),
        # shard 0 continued: doc 1 lands right after doc 0's 18 tokens
        (0, 1): _words(0, L, L + 2) + _words(1, 0, 14),
        (9, 0): _words(2, 0, L),
    }
    assert _state(spark, state) == {
        0: (32, []),
        9: (L + 1, _words(2, L, L + 1)),
    }


def test_incremental_assembly_equals_batch_for_any_split(spark, tmp_path):
    """Streamed COMPLETE chunks (text, absolute ids) equal the batch
    assembler's complete chunks for 1- and 3-way splits — including
    chunks straddling batch boundaries (emitted once, by the batch that
    completes them) — and the final stored tail equals the batch path's
    partial last chunk per shard."""
    counts = [5, 3, 40, 1, 16, 7, 2, 31, 9, 4]
    docs = _tok_docs(spark, counts)
    want_complete, want_tails = _batch_assembled(spark, docs)
    assert want_complete and want_tails  # fixture exercises both

    for k, label in ((1, "one"), (3, "three")):
        state = str(tmp_path / f"st_{label}")
        out = str(tmp_path / f"out_{label}")
        for i, b in enumerate(_splits(docs, k)):
            assemble_batch(spark, b, state, out, L, batch_id=i)
        assert _read_out(spark, out) == want_complete
        got_tails = {
            s: toks for s, (_, toks) in _state(spark, state).items() if toks
        }
        assert got_tails == want_tails


def test_incremental_assembly_never_emits_partial_chunks(spark, tmp_path):
    """Every emitted row is exactly L tokens — the unfilled last chunk
    stays in the state row's tail (training data is fixed-size by
    construction), and a later batch completes it at the same absolute
    chunk_id with the earlier batch's tokens in front."""
    state, out = str(tmp_path / "st_p"), str(tmp_path / "out_p")
    # batch 0: 10 tokens on shard 0 — no complete chunk yet (L=16)
    b0 = spark.createDataFrame(
        [(0, 0, [f"a{j}" for j in range(10)])], TOK_SCHEMA
    )
    assemble_batch(spark, b0, state, out, L, batch_id=0)
    assert not any(
        f.endswith(".parquet") and os.path.getsize(os.path.join(dp, f)) > 0
        for dp, _, fns in os.walk(out)
        for f in fns
    ) or len(_read_out(spark, out)) == 0
    # batch 1: 10 more — chunk 0 completes with 6 carried + 10 new... (16)
    b1 = spark.createDataFrame(
        [(1, 0, [f"b{j}" for j in range(10)])], TOK_SCHEMA
    )
    assemble_batch(spark, b1, state, out, L, batch_id=1)
    got = _read_out(spark, out)
    assert set(got) == {(0, 0)}
    assert got[(0, 0)] == [f"a{j}" for j in range(10)] + [
        f"b{j}" for j in range(6)
    ]


def test_incremental_assembly_retry_is_position_identical(spark, tmp_path):
    """A redelivered batch re-emits byte-identical complete chunks (same
    ids, same token arrays) and leaves the tail single-valued — the
    strictly-earlier-batch_id rule applied to the state store."""
    from collections import Counter

    state, out = str(tmp_path / "st_r"), str(tmp_path / "out_r")
    b0 = spark.createDataFrame(
        [(0, 0, [f"a{j}" for j in range(20)])], TOK_SCHEMA
    )
    assemble_batch(spark, b0, state, out, L, batch_id=0)
    assemble_batch(spark, b0, state, out, L, batch_id=0)  # retry
    rows = [
        (r.shard, r.chunk_id, tuple(r.toks))
        for r in spark.read.parquet(out).collect()
    ]
    assert set(Counter(rows).values()) == {2}  # exact duplicates only
    assert {(s, c) for s, c, _ in rows} == {(0, 0)}
    assert _state(spark, state) == {
        0: (20, [f"a{j}" for j in range(16, 20)])
    }
    # follow-up batch still packs at the single-counted position
    b1 = spark.createDataFrame(
        [(1, 0, [f"b{j}" for j in range(12)])], TOK_SCHEMA
    )
    assemble_batch(spark, b1, state, out, L, batch_id=1)
    got = _read_out(spark, out)
    assert got[(0, 1)] == [f"a{j}" for j in range(16, 20)] + [
        f"b{j}" for j in range(12)
    ]


def test_incremental_assembly_real_streaming_run(spark, tmp_path):
    """The foreachBatch wiring over a real file-source stream: identical
    complete chunks to the batch assembler."""
    counts = [5, 3, 40, 1, 16, 7, 2, 31]
    docs = _tok_docs(spark, counts)
    want_complete, _ = _batch_assembled(spark, docs)
    src = tmp_path / "asrc"
    _write_ordered_splits(docs, src, 3)
    stream = (
        spark.readStream.schema(TOK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = str(tmp_path / "aout")
    q = (
        streaming_assembly_writer(
            stream,
            str(tmp_path / "astate"),
            out,
            str(tmp_path / "ackpt"),
            L,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert _read_out(spark, out) == want_complete and len(want_complete) > 0


def test_compaction_preserves_stream_semantics(spark, tmp_path):
    """compact_state folds pre-N state rows into sentinel (-1) rows —
    continuing the stream across a compaction must produce EXACTLY the
    uncompacted run's output: same assembled chunks, same packed totals,
    same tails.  The sentinel sorts strictly below every real batch id,
    so the strictly-earlier retry rule is untouched — a retry of the
    first post-compaction batch re-packs at the same base."""
    counts = [5, 3, 40, 1, 16, 7, 2, 31, 9, 4, 12, 29]
    tdocs = _tok_docs(spark, counts)
    batches = list(_splits(tdocs, 4))

    # uncompacted reference run
    st_a, out_a = str(tmp_path / "sa"), str(tmp_path / "oa")
    for i, b in enumerate(batches):
        assemble_batch(spark, b, st_a, out_a, L, batch_id=i)

    # compacted run: compact after batch 1, continue with 2 and 3
    st_b, out_b = str(tmp_path / "sb"), str(tmp_path / "ob")
    for i, b in enumerate(batches[:2]):
        assemble_batch(spark, b, st_b, out_b, L, batch_id=i)
    compact_state(spark, st_b, before_batch_id=2)
    # sentinel rows exist, real pre-cut rows are gone
    rows = spark.read.parquet(str(tmp_path / "sb" / "shards"))
    assert {r.batch_id for r in rows.collect()} == {-1}
    # retry of the first post-compaction batch: same base either way
    assemble_batch(spark, batches[2], st_b, out_b, L, batch_id=2)
    assemble_batch(spark, batches[2], st_b, out_b, L, batch_id=2)  # retry
    assemble_batch(spark, batches[3], st_b, out_b, L, batch_id=3)

    got_a = _read_out(spark, out_a)
    got_b = _read_out(spark, out_b)  # retry dups collapse in the dict
    assert got_b == got_a and len(got_a) > 0
    assert _state(spark, st_b) == _state(spark, st_a)


def test_compaction_shrinks_state_files(spark, tmp_path):
    """The point of the maintenance pass (EXPERIMENTS §20): after many
    appends the store is many files; compaction collapses the pre-cut
    history to one row-set without changing what read_state returns."""
    state, out = str(tmp_path / "st"), str(tmp_path / "out")
    for i in range(6):
        b = _tok_batch(spark, [(i, 0, 7), (100 + i, 1, 9)])
        assemble_batch(spark, b, state, out, L, batch_id=i)

    store = os.path.join(state, "shards")
    before = _n_parquet(store)
    want = _state(spark, state)
    compact_state(spark, state, before_batch_id=6)
    after = _n_parquet(store)
    assert after < before == 6
    assert _state(spark, state) == want
    assert _packed(spark, state) == {0: 6 * 7, 1: 6 * 9}


def test_exactly_once_output_mode_retry_produces_no_duplicates(
    spark, tmp_path
):
    """exactly_once=True: each batch's output overwrites its own
    out_dir/batch=<id> directory, so a redelivered batch leaves ZERO
    duplicate rows — and the union over batch dirs equals the batch
    assembler's complete chunks."""
    counts = [5, 3, 40, 1, 16, 7, 2, 31]
    tdocs = _tok_docs(spark, counts)
    want_complete, _ = _batch_assembled(spark, tdocs)
    astate, aout = str(tmp_path / "ast_eo"), str(tmp_path / "aout_eo")
    for i, b in enumerate(_splits(tdocs, 3)):
        assemble_batch(
            spark, b, astate, aout, L, batch_id=i, exactly_once=True
        )
        if i in (0, 1):  # redeliver, incl. mid-stream
            assemble_batch(
                spark, b, astate, aout, L, batch_id=i, exactly_once=True
            )
    arows = spark.read.parquet(aout).drop("batch").collect()
    keyed = [(r.shard, r.chunk_id) for r in arows]
    assert len(keyed) == len(set(keyed))
    assert {
        (r.shard, r.chunk_id): list(r.toks) for r in arows
    } == want_complete


def test_join_path_preserves_uri_authority():
    """pathlib collapses s3a:// to s3a:/ — the state paths must not."""
    from bigdatastructure_a5_spark.streaming.state import join_path

    assert join_path("s3a://bucket/out", "batch=3") == (
        "s3a://bucket/out/batch=3"
    )
    assert join_path("hdfs://nn:8020/state", "shards") == (
        "hdfs://nn:8020/state/shards"
    )
    assert join_path("/tmp/x/", "shards") == "/tmp/x/shards"


def test_interrupted_compaction_raises_instead_of_first_batch(
    spark, tmp_path
):
    """A crash between compact_state's delete and rename leaves the
    store missing with a completed .compacting dir beside it: the state
    reader must RAISE (packing from base 0 over real history silently
    overlaps chunk ids), and re-running compact_state must complete the
    swap."""
    state, out = str(tmp_path / "st_ic"), str(tmp_path / "out_ic")
    for i in range(3):
        assemble_batch(
            spark, _tok_batch(spark, [(i, 0, 7)]), state, out, L,
            batch_id=i,
        )
    store = os.path.join(state, "shards")
    # simulate the crash window: store gone, staging (with _SUCCESS,
    # since every Spark parquet write leaves one) in its place
    os.rename(store, store + ".compacting")
    with pytest.raises(RuntimeError, match="compact_state"):
        read_state(spark, state)
    with pytest.raises(RuntimeError, match="compact_state"):
        assemble_batch(
            spark, _tok_batch(spark, [(3, 0, 7)]), state, out, L,
            batch_id=3,
        )
    # repair path: compact_state recovers the staging dir first
    compact_state(spark, state, before_batch_id=3)
    assert _packed(spark, state) == {0: 21}
    rows = spark.read.parquet(store).collect()
    assert {r.batch_id for r in rows} == {-1}


def test_assembler_supports_integer_token_id_arrays(spark, tmp_path):
    """toks as array<bigint> (the trainer-shaped token-id stream): the
    empty-tail placeholder must use the batch's own element type — a
    hardcoded array<string> fails the first time a shard ends exactly
    on a chunk boundary."""
    schema = "doc_id bigint, shard bigint, toks array<bigint>"
    state, out = str(tmp_path / "st_int"), str(tmp_path / "out_int")
    # batch 0 ends EXACTLY on the chunk boundary -> empty tail row
    b0 = spark.createDataFrame([(0, 0, list(range(L)))], schema)
    assemble_batch(spark, b0, state, out, L, batch_id=0)
    assert _state(spark, state) == {0: (L, [])}
    # batch 1 continues at the boundary; absolute chunk ids carry on
    b1 = spark.createDataFrame([(1, 0, list(range(100, 100 + L + 3)))], schema)
    assemble_batch(spark, b1, state, out, L, batch_id=1)
    got = {
        (r.shard, r.chunk_id): list(r.toks)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (0, 0): list(range(L)),
        (0, 1): list(range(100, 100 + L)),
    }
    assert _state(spark, state) == {
        0: (2 * L + 3, list(range(100 + L, 100 + L + 3)))
    }


def test_pack_compaction_vs_writer_mutual_exclusion(spark, tmp_path):
    """VERDICT r11 item 3: the no-concurrent-stream precondition is
    enforced, not documented — a compaction attempted during an active
    writer raises, a write during a compaction raises, and force=True
    overrides a mark left by a provably crashed batch."""
    from bigdatastructure_a5_spark.streaming.state import (
        COMPACTION_LOCK,
        WRITER_MARK,
        fs_delete,
        fs_mkdirs,
        join_path,
    )

    state, out = str(tmp_path / "st_mx"), str(tmp_path / "out_mx")
    assemble_batch(
        spark, _tok_batch(spark, [(0, 0, 5), (1, 1, 7)]), state, out, L,
        batch_id=0,
    )

    # writer active (e.g. crashed mid-batch) -> compaction refuses
    fs_mkdirs(spark, join_path(state, WRITER_MARK))
    with pytest.raises(RuntimeError, match="active writer"):
        compact_state(spark, state, before_batch_id=1)
    compact_state(spark, state, before_batch_id=1, force=True)
    fs_delete(spark, join_path(state, WRITER_MARK))

    # compaction in flight -> writer refuses, and marks don't linger
    fs_mkdirs(spark, join_path(state, COMPACTION_LOCK))
    with pytest.raises(RuntimeError, match="compacted"):
        assemble_batch(
            spark, _tok_batch(spark, [(2, 0, 3)]), state, out, L,
            batch_id=1,
        )
    assert not os.path.exists(os.path.join(state, WRITER_MARK))
    fs_delete(spark, join_path(state, COMPACTION_LOCK))

    # after both sides release, the stream continues at correct offsets
    assemble_batch(
        spark, _tok_batch(spark, [(2, 0, 3)]), state, out, L, batch_id=1
    )
    assert _state(spark, state) == {
        0: (8, _words(0, 0, 5) + _words(2, 0, 3)),
        1: (7, _words(1, 0, 7)),
    }


def test_compact_state_refuses_uncommitted_batches(spark, tmp_path):
    """ADVICE r11 medium: with the stream's checkpoint_dir given,
    compact_state enforces before_batch_id <= last COMMITTED batch + 1 —
    folding a pending batch's state row into the sentinel would let its
    redelivery pack at its own end."""
    state, out = str(tmp_path / "st_cb"), str(tmp_path / "out_cb")
    for i in range(3):
        assemble_batch(
            spark, _tok_batch(spark, [(i, 0, 7)]), state, out, L,
            batch_id=i,
        )
    # checkpoint with commit markers for batches 0 and 1 only: batch 2
    # ran (its state rows exist) but never committed -> redeliverable
    ckpt = tmp_path / "ckpt_cb"
    (ckpt / "commits").mkdir(parents=True)
    for b in ("0", "1"):
        (ckpt / "commits" / b).write_text("v1")
    (ckpt / "commits" / "2.tmp.crc").write_text("")  # non-commit junk

    with pytest.raises(ValueError, match="pending redelivery"):
        compact_state(
            spark, state, before_batch_id=3, checkpoint_dir=str(ckpt)
        )
    # the bound itself is allowed: folds exactly the committed prefix
    compact_state(
        spark, state, before_batch_id=2, checkpoint_dir=str(ckpt)
    )
    rows = spark.read.parquet(os.path.join(state, "shards")).collect()
    assert {r.batch_id for r in rows} == {-1, 2}
    assert _packed(spark, state) == {0: 21}
    # batch 2's redelivery still sees batch 1's state as its base
    assert _state(spark, state, before_batch_id=2) == {
        0: (14, _words(0, 0, 7) + _words(1, 0, 7))
    }
    # an empty/missing commits log means NOTHING may fold
    ckpt2 = tmp_path / "ckpt_cb2"
    ckpt2.mkdir()
    with pytest.raises(ValueError, match="pending redelivery"):
        compact_state(
            spark, state, before_batch_id=1, checkpoint_dir=str(ckpt2)
        )


def test_assemble_batch_rejects_non_numeric_ids(spark, tmp_path):
    """ADVICE r11 medium: a non-numeric string id would cast to NULL and
    tie every doc on one NULL order key — nondeterministic chunk content
    across retries.  The assembler must fail loudly instead."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    b = spark.createDataFrame(
        [("doc-a", 0, ["t1", "t2"]), ("doc-b", 0, ["t3"])],
        "doc_id string, shard bigint, toks array<string>",
    )
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="not castable"
    ):
        assemble_batch(
            spark,
            b,
            str(tmp_path / "st_nn"),
            str(tmp_path / "out_nn"),
            L,
            batch_id=0,
        )
    # NUMERIC string ids are fine (they cast losslessly)
    b2 = spark.createDataFrame(
        [("10", 0, ["t1", "t2"]), ("11", 0, ["t3"])],
        "doc_id string, shard bigint, toks array<string>",
    )
    assemble_batch(
        spark,
        b2,
        str(tmp_path / "st_ns"),
        str(tmp_path / "out_ns"),
        L,
        batch_id=0,
    )


def test_compact_bound_reads_real_streaming_checkpoint(spark, tmp_path):
    """The committed-batch bound against a REAL AvailableNow checkpoint
    (not a simulated commits dir): after a 3-file stream commits batches
    0-2, compact_state accepts before_batch_id <= 3 and refuses 4 — and
    continuing with a batch-mode backfill over the compacted state packs
    at the exact uncompacted offsets."""
    counts = [5, 3, 40, 1, 16, 7, 2, 31]
    docs = _tok_docs(spark, counts)
    src = tmp_path / "src_cb"
    _write_ordered_splits(docs, src, 3)
    stream = (
        spark.readStream.schema(TOK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out, state = str(tmp_path / "out_cb"), str(tmp_path / "state_cb")
    ckpt = str(tmp_path / "ckpt_cb")
    q = (
        streaming_assembly_writer(stream, state, out, ckpt, L)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    with pytest.raises(ValueError, match="pending redelivery"):
        compact_state(spark, state, before_batch_id=4, checkpoint_dir=ckpt)
    # before_batch_id=None derives the committed prefix (3) itself —
    # the one-liner maintenance-window form
    compact_state(spark, state, checkpoint_dir=ckpt)
    rows = spark.read.parquet(os.path.join(state, "shards")).collect()
    assert {r.batch_id for r in rows} == {-1}

    # backfill continues at the exact offsets the full corpus implies
    extra = _tok_batch(spark, [(100, 0, 9), (101, 1, 4)])
    assemble_batch(spark, extra, state, out, L, batch_id=3)
    want_complete, want_tails = _batch_assembled(
        spark, docs.unionByName(extra)
    )
    out_rows = spark.read.parquet(out).collect()
    assert len(out_rows) == len(want_complete)
    assert _read_out(spark, out) == want_complete
    assert {s: t for s, (_, t) in _state(spark, state).items()} == want_tails


def test_assemble_batch_rejects_null_ids(spark, tmp_path):
    """ADVICE r12 low: NULL ids are the same hazard as uncastable ones
    (every NULL row would collapse onto one NULL order key) — the guard
    must fire on them too, with a NULL-specific message."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    b = spark.createDataFrame(
        [(None, 0, ["t1", "t2"]), (7, 0, ["t3"])],
        "doc_id bigint, shard bigint, toks array<string>",
    )
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="is NULL"
    ):
        assemble_batch(
            spark,
            b,
            str(tmp_path / "st_null"),
            str(tmp_path / "out_null"),
            L,
            batch_id=0,
        )


def test_assemble_batch_rejects_mid_chunk_state_base(spark, tmp_path):
    """A state row whose packed - size(toks) is not a chunk boundary
    (here packed=5 with an empty tail) would make the shard re-pack from
    mid-chunk: its first and last chunks both come out partial and the
    written `packed` would silently lose tokens.  The state aggregation
    counts partial chunks per shard and raises on more than one."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    state, out = str(tmp_path / "st_mp"), str(tmp_path / "out_mp")
    spark.createDataFrame(
        [(0, 0, 5, [])],
        "shard bigint, batch_id bigint, packed bigint, toks array<string>",
    ).write.parquet(os.path.join(state, "shards"))
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError),
        match="more than one partial chunk",
    ):
        assemble_batch(
            spark, _tok_batch(spark, [(1, 0, L + 4)]), state, out, L,
            batch_id=1,
        )
