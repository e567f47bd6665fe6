"""Paragraph-granularity persisted dedup (ingest.ParagraphState):
multi-batch verdicts pinned bit-exactly to a serial first-wins
replay, equivalence with the stateless batch operator on the
concatenated corpus, kill/resume rollback, and idempotent replay."""

from __future__ import annotations

import pytest

from news_crawler_spark.ingest import ParagraphState

NAV = "subscribe to our newsletter"
FOOT_A = "copyright site a"
FOOT_B = "copyright site b"

BATCHES = {
    "b0": [
        (1, NAV + "\n\n" + "body one unique" + "\n\n" + FOOT_A),
        (2, NAV + "\n\n" + "body two unique" + "\n\n" + FOOT_A),
        (3, "body three unique" + "\n\n" + FOOT_B),
    ],
    "b1": [
        (11, NAV + "\n\n" + "body one unique"),       # all seen in b0
        (12, NAV + "\n\n" + "fresh body twelve" + "\n\n" + FOOT_B),
        (13, "dup inside batch" + "\n\n" + "dup inside batch"),
    ],
    "b2": [
        (21, "dup inside batch" + "\n\n" + "final fresh body"),
        (22, FOOT_A + "\n\n" + FOOT_B + "\n\n" + NAV),  # pure boilerplate
    ],
}


def _serial(batch_order):
    """First-wins replay over batches in ingest order."""
    seen = set()
    out = {}
    for bid in batch_order:
        for doc_id, text in BATCHES[bid]:
            paras = [p.strip() for p in text.split("\n\n") if p.strip()]
            n_new = 0
            for p in paras:
                if p not in seen:
                    seen.add(p)
                    n_new += 1
            out[doc_id] = (len(paras), n_new,
                           round(n_new / len(paras), 6))
    return out, seen


def _ingest_all(spark, state_dir, order=("b0", "b1", "b2")):
    st = ParagraphState(spark, str(state_dir))
    got = {}
    for bid in order:
        df = spark.createDataFrame(BATCHES[bid],
                                   "doc_id long, text string")
        for r in st.ingest(df, bid).collect():
            got[r["doc_id"]] = (r["n_paras"], r["n_new"], r["new_frac"])
    return st, got


def test_paragraph_state_matches_serial_replay(spark, tmp_path):
    st, got = _ingest_all(spark, tmp_path / "ps")
    want, seen = _serial(("b0", "b1", "b2"))
    assert got == want
    # state holds exactly one witness row per distinct paragraph
    assert st.paragraphs.read().count() == len(seen)


def test_paragraph_state_equals_batch_operator_single_batch(spark,
                                                            tmp_path):
    """One batch holding every doc == the stateless operator's n_kept
    (global first-wins is the same computation)."""
    from news_crawler_spark.operators import paragraph_dedup

    rows = [d for b in ("b0", "b1", "b2") for d in BATCHES[b]]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    st = ParagraphState(spark, str(tmp_path / "one"))
    got = {r["doc_id"]: r["n_new"]
           for r in st.ingest(df, "all").collect()}
    want = {r["doc_id"]: r["n_kept"]
            for r in paragraph_dedup(df).collect()}
    assert got == want


STATE_TABLES = ("paragraphs", "verdicts")
TORN_ROWS = {
    "paragraphs": [("deadbeef", 999, 0)],
    "verdicts": [("b2", 999, 1, 1, 1.0)],
}


def _row_counts(st):
    return {name: getattr(st, name).read().count() for name in STATE_TABLES}


def _torn_append(spark, st, names):
    """Data appends of a killed ingest: no lineage row follows."""
    for name in names:
        t = getattr(st, name)
        t.append(spark.createDataFrame(TORN_ROWS[name], t.schema))


def test_paragraph_state_kill_resume_and_replay(spark, tmp_path):
    """Torn-write matrix: each data append alone, then both, written
    without a lineage row, must roll back on resume to the committed
    row counts; replay and continuation then stay bit-exact. Torn
    appends into a fresh state dir resume to empty tables."""
    import shutil

    st, _ = _ingest_all(spark, tmp_path / "kr", order=("b0", "b1"))
    committed = _row_counts(st)
    n_state = committed["paragraphs"]

    scenarios = [(name,) for name in STATE_TABLES] + [STATE_TABLES]
    for i, torn_tables in enumerate(scenarios):
        state = str(tmp_path / f"s{i}")
        shutil.copytree(tmp_path / "kr", state)
        _torn_append(spark, ParagraphState(spark, state), torn_tables)
        st2 = ParagraphState(spark, state)
        assert st2.resume() == 2, f"scenario {torn_tables}"
        assert _row_counts(st2) == committed, f"scenario {torn_tables}"

    # idempotent replay: b1 again returns committed verdicts, no growth
    df = spark.createDataFrame(BATCHES["b1"], "doc_id long, text string")
    replay = {r["doc_id"]: (r["n_paras"], r["n_new"], r["new_frac"])
              for r in st2.ingest(df, "b1").collect()}
    want, _ = _serial(("b0", "b1"))
    assert replay == {d: want[d] for d in replay}
    assert st2.paragraphs.read().count() == n_state

    # b2 continues from the resumed state bit-exactly
    df2 = spark.createDataFrame(BATCHES["b2"], "doc_id long, text string")
    got2 = {r["doc_id"]: (r["n_paras"], r["n_new"], r["new_frac"])
            for r in st2.ingest(df2, "b2").collect()}
    wantf, _ = _serial(("b0", "b1", "b2"))
    assert got2 == {d: wantf[d] for d in got2}

    fresh = str(tmp_path / "fresh")
    _torn_append(spark, ParagraphState(spark, fresh), STATE_TABLES)
    st3 = ParagraphState(spark, fresh)
    assert st3.resume() == 0
    assert _row_counts(st3) == dict.fromkeys(STATE_TABLES, 0)


def test_paragraph_state_compact_preserves_state(spark, tmp_path):
    st, _ = _ingest_all(spark, tmp_path / "cp")
    before = {(r["fp"], r["doc_id"], r["pos"])
              for r in st.paragraphs.read().collect()}
    info = st.compact()
    assert info["paragraph_rows"] == len(before)
    after = {(r["fp"], r["doc_id"], r["pos"])
             for r in st.paragraphs.read().collect()}
    assert after == before

    # the compaction commits its own lineage row: a fresh process's
    # resume() pins to the compacted snapshot instead of undoing it,
    # and compact markers don't count as batches
    post = st.paragraphs.current_snapshot()
    st2 = ParagraphState(spark, str(tmp_path / "cp"))
    assert st2.resume() == len(st.committed_batches())
    assert st2.paragraphs.current_snapshot() == post


def test_paragraph_stream_ingest_matches_batch(spark, tmp_path):
    """File-source stream drained one file per micro-batch must land
    the same verdicts and state as the batch path (foreachBatch +
    idempotent batch ids)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    for i, bid in enumerate(("b0", "b1", "b2")):
        rows = BATCHES[bid]
        path = os.path.join(str(src), f"{i}_{bid}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([d for d, _ in rows], pa.int64()),
            "text": pa.array([t for _, t in rows], pa.string()),
        }), path)
        os.utime(path, (1_000_000 + i * 1000,) * 2)

    st = ParagraphState(spark, str(tmp_path / "state"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = st.ingest_stream(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    assert st.committed_batches() == ["stream-0", "stream-1", "stream-2"]
    want, seen = _serial(("b0", "b1", "b2"))
    got = {r["doc_id"]: (r["n_paras"], r["n_new"], r["new_frac"])
           for r in st.verdicts.read()
           .select("doc_id", "n_paras", "n_new", "new_frac").collect()}
    assert got == want
    assert st.paragraphs.read().count() == len(seen)
