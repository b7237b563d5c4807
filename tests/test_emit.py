"""Training-shard emission (`operators/emit.py`): layout determinism,
the resume-by-shard contract, and the content roundtrip through the
table layer — the properties the `pipeline_emit_shards` oracle entry
rests on, pinned at unit scale."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from paimon_presto_spark.operators.emit import (
    emit_training_shards,
    tokenized_sequences,
)


@pytest.fixture()
def docs(spark):
    rows = [
        # source 'a': 10 + 7 + 9 = 26 tokens -> 3 seqs of 8, tail of 2 dropped
        (1, "a", " ".join(f"w{i}" for i in range(10))),
        (2, "a", " ".join(f"x{i}" for i in range(7))),
        (3, "a", " ".join(f"y{i}" for i in range(9))),
        # source 'b': exactly 16 tokens -> 2 full seqs, no tail
        (4, "b", " ".join(f"z{i}" for i in range(16))),
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _mk_table(catalog):
    catalog.create_database("emit", ignore_if_exists=True)
    return catalog.create_table(
        "emit", "shards",
        "source string, seq_id bigint, shard int, n_tok int, ids array<int>",
        partition_keys=["shard"],
    )


def test_sequences_are_fixed_length_and_cross_doc(docs):
    out = tokenized_sequences(docs, seq_len=8, n_shards=4).collect()
    by_src = {}
    for r in out:
        assert r["n_tok"] == 8
        assert len(r["ids"]) == 8
        by_src.setdefault(r["source"], []).append(r["seq_id"])
    # 26 tokens // 8 = 3 full sequences (tail dropped); 16 // 8 = 2
    assert sorted(by_src["a"]) == [0, 1, 2]
    assert sorted(by_src["b"]) == [0, 1]
    # documents cross sequence boundaries: source 'a' seq 1 spans the
    # doc-1/doc-2 boundary (doc 1 ends at global position 9)
    assert all(0 <= s["shard"] < 4 for s in out)


def test_eos_separator_terminates_documents(docs):
    """eos_id appends the separator after EVERY document before the
    stream is cut, so boundaries survive packing: with seq_len 9 and
    docs of 10/7/9 tokens, source 'a' has 29 ids and eos sits exactly
    at global positions 10, 18, 28. The separator lives OUTSIDE the
    hash range (eos_id >= vocab is enforced), so no word can ever
    collide with it — the positions below are certain, not
    fixture-lucky."""
    import pytest

    EOS = 32768  # == vocab: the first reserved id outside the hash range
    out = tokenized_sequences(docs, seq_len=9, n_shards=2, eos_id=EOS)
    flat = {}
    for r in out.collect():
        for i, t in enumerate(r["ids"]):
            flat.setdefault(r["source"], {})[r["seq_id"] * 9 + i] = t
    a = flat["a"]
    # 29 ids -> 3 full sequences of 9 (positions 0..26 kept)
    assert len(a) == 27
    eos_positions = {p for p, t in a.items() if t == EOS}
    assert eos_positions == {10, 18}  # position 28 fell in the dropped tail
    # an in-range separator is rejected outright
    with pytest.raises(ValueError, match="eos_id"):
        tokenized_sequences(docs, eos_id=0)


def test_layout_is_deterministic_and_order_based(docs, spark):
    a = tokenized_sequences(docs, seq_len=8).collect()
    # shuffling input row order must not change the layout (doc_id order rules)
    b = tokenized_sequences(docs.orderBy(F.desc("doc_id")), seq_len=8).collect()
    key = lambda r: (r["source"], r["seq_id"])
    assert sorted(a, key=key) == sorted(b, key=key)


def test_two_pass_offsets_match_single_window(docs, spark):
    """The block-decomposed offset path (offset_blocks/did_range — the
    scale rung emit_training_shards uses) must reproduce the single
    per-source window's sequences BIT-identically, including with an
    EOS separator and with block boundaries that split sources
    mid-stream, and must reject half-specified parameters. A NULL-text
    document leads source 'a': the block bases must count it exactly as
    ``size(__ids)`` does in both ANSI modes (``size(NULL)`` is NULL with
    ANSI on and -1 with it off, where a count of ``split(text) + 1``
    used to disagree once an EOS separator was set). A NULL text means
    no tokens and no EOS, so both ANSI modes give the same sequences."""
    null_doc = spark.createDataFrame(
        [(0, "a", None)], "doc_id long, source string, text string"
    )
    docs = null_doc.unionByName(docs)
    key = lambda r: (r["source"], r["seq_id"])
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    by_mode = {}
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            for eos in (None, 32768):
                base = sorted(
                    tokenized_sequences(docs, seq_len=8, eos_id=eos).collect(),
                    key=key,
                )
                by_mode[mode, eos] = base
                for blocks in (2, 3, 64):  # mid-source splits, blocks >> docs
                    two = sorted(
                        tokenized_sequences(
                            docs, seq_len=8, eos_id=eos,
                            offset_blocks=blocks, did_range=(0, 4),
                        ).collect(),
                        key=key,
                    )
                    assert two == base, (mode, eos, blocks)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    for eos in (None, 32768):
        assert by_mode["false", eos] == by_mode["true", eos], eos
    with pytest.raises(ValueError, match="offset_blocks"):
        tokenized_sequences(docs, offset_blocks=4)
    with pytest.raises(ValueError, match="offset_blocks"):
        tokenized_sequences(docs, did_range=(1, 4))


def test_emit_resume_contract(docs, catalog):
    t = _mk_table(catalog)
    kw = dict(seq_len=8, n_shards=4, shards_per_commit=2)
    r1 = emit_training_shards(docs, t, max_commits=1, **kw)
    assert r1 == {"shards_written": 2, "shards_skipped": 0, "n_commits": 1}
    r2 = emit_training_shards(docs, t, **kw)
    assert r2 == {"shards_written": 2, "shards_skipped": 2, "n_commits": 1}
    r3 = emit_training_shards(docs, t, **kw)
    assert r3 == {"shards_written": 0, "shards_skipped": 4, "n_commits": 0}
    # content equals the pure plan, via the table roundtrip
    stored = {
        (r["source"], r["seq_id"]): r["ids"] for r in t.to_df().collect()
    }
    pure = {
        (r["source"], r["seq_id"]): r["ids"]
        for r in tokenized_sequences(docs, seq_len=8, n_shards=4).collect()
    }
    assert stored == pure
    # resume never duplicated a sequence across commits
    assert len(stored) == sum(1 for _ in pure)


def test_emit_shard_partition_prunes(docs, catalog):
    t = _mk_table(catalog)
    emit_training_shards(docs, t, seq_len=8, n_shards=4, shards_per_commit=4)
    n_full = len(t.scan().plan_files())
    pruned = t.scan(partition_where="shard = 1")
    n_one = len(pruned.plan_files())
    assert 0 < n_one < n_full  # pruning happened at PLANNING time
    rows = pruned.to_df().collect()
    assert rows and all(r["shard"] == 1 for r in rows)


def test_emit_resume_survives_empty_shards(docs, catalog):
    """The round-8 regression this module was redesigned around: with
    more shards than sequences, some shards are EMPTY — a data-presence
    probe would re-attempt them forever, but the commit-identifier
    resume (Paimon's sink contract) knows they were committed."""
    catalog.create_database("emit", ignore_if_exists=True)
    t = catalog.create_table(
        "emit", "sparse",
        "source string, seq_id bigint, shard int, n_tok int, ids array<int>",
        partition_keys=["shard"],
    )
    # 5 sequences (seq_len=8) over 16 shards: most shards are empty
    kw = dict(seq_len=8, n_shards=16, shards_per_commit=4)
    r1 = emit_training_shards(docs, t, max_commits=2, **kw)
    assert r1 == {"shards_written": 8, "shards_skipped": 0, "n_commits": 2}
    r2 = emit_training_shards(docs, t, **kw)
    assert r2 == {"shards_written": 8, "shards_skipped": 8, "n_commits": 2}
    r3 = emit_training_shards(docs, t, **kw)
    assert r3 == {"shards_written": 0, "shards_skipped": 16, "n_commits": 0}
    # identifiers are stamped monotonically on APPEND snapshots: the high
    # half carries the group index, the low half the geometry fingerprint
    idents = [
        t.snapshot(sid).commit_identifier
        for sid in t.snapshot_ids()
        if t.snapshot(sid).commit_kind == "APPEND"
    ]
    assert sorted(i >> 32 for i in idents) == [1, 2, 3, 4]
    assert len({i & 0xFFFFFFFF for i in idents}) == 1
    # no sequence was emitted twice
    df = t.to_df()
    assert df.count() == df.select("source", "seq_id").distinct().count() == 5


def test_emit_rejects_bad_params(docs, catalog):
    with pytest.raises(ValueError):
        tokenized_sequences(docs, seq_len=0)
    with pytest.raises(ValueError):
        tokenized_sequences(docs, n_shards=0)
    t = _mk_table(catalog)
    with pytest.raises(ValueError, match="shards_per_commit"):
        emit_training_shards(docs, t, shards_per_commit=0)
    with pytest.raises(ValueError, match="max_commits"):
        emit_training_shards(docs, t, max_commits=-1)


def test_emit_resume_rejects_changed_geometry(docs, catalog):
    """A resume under different parameters would mis-map the progress
    point (finer shards_per_commit on resume reads as 'finished' with
    shards never written) — the geometry fingerprint in the commit
    identifier turns that silent loss into an error."""
    catalog.create_database("emit", ignore_if_exists=True)
    t = catalog.create_table(
        "emit", "geom",
        "source string, seq_id bigint, shard int, n_tok int, ids array<int>",
        partition_keys=["shard"],
    )
    emit_training_shards(
        docs, t, seq_len=8, n_shards=4, shards_per_commit=1, max_commits=2
    )
    with pytest.raises(ValueError, match="different[ \\n]+geometry"):
        emit_training_shards(docs, t, seq_len=8, n_shards=4,
                             shards_per_commit=2)
    with pytest.raises(ValueError, match="different[ \\n]+geometry"):
        emit_training_shards(docs, t, seq_len=16, n_shards=4,
                             shards_per_commit=1)
    # the original geometry resumes exactly
    r = emit_training_shards(docs, t, seq_len=8, n_shards=4,
                             shards_per_commit=1)
    assert r == {"shards_written": 2, "shards_skipped": 2, "n_commits": 2}


def test_emit_resume_legacy_requires_opt_in(docs, catalog, monkeypatch):
    """Tables emitted before the fingerprint learned the input column
    names (round 9) are UNVERIFIABLE in both directions — the chain
    never recorded which columns the old writer packed. A default-column
    resume must therefore REFUSE without ``adopt_legacy=True`` (naming
    the risk and the flag), and adopt-and-finish with it."""
    import pytest as _pytest

    import paimon_presto_spark.operators.emit as emit_mod

    t = _mk_table(catalog)
    kw = dict(seq_len=8, n_shards=4, shards_per_commit=2)

    # emulate the pre-round-9 writer: fingerprints never include cols
    real_fp = emit_mod._geometry_fingerprint

    def legacy_fp(seq_len, vocab, n_shards, shards_per_commit, salt,
                  eos_id, cols):
        return real_fp(seq_len, vocab, n_shards, shards_per_commit, salt,
                       eos_id, None)

    monkeypatch.setattr(emit_mod, "_geometry_fingerprint", legacy_fp)
    r1 = emit_mod.emit_training_shards(docs, t, max_commits=1, **kw)
    assert r1["shards_written"] == 2
    monkeypatch.undo()

    # default-col resume WITHOUT the flag: fail closed, name flag + risk
    with _pytest.raises(ValueError, match="adopt_legacy"):
        emit_mod.emit_training_shards(docs, t, **kw)
    # the refusal is an error, not a commit: nothing was appended
    # (the retry below still skips exactly the legacy group)
    r2 = emit_mod.emit_training_shards(docs, t, adopt_legacy=True, **kw)
    assert r2 == {"shards_written": 2, "shards_skipped": 2, "n_commits": 1}
    # a genuinely different geometry still dies loudly, flag or no flag
    with _pytest.raises(ValueError, match="different geometry"):
        emit_mod.emit_training_shards(
            docs, t, seq_len=16, n_shards=4, shards_per_commit=2,
            adopt_legacy=True,
        )


def test_emit_legacy_adoption_refuses_custom_columns(
    docs, catalog, monkeypatch
):
    """A col-less legacy chain is UNVERIFIABLE for a custom-column
    resume (the old writer never recorded which columns it packed), so
    adoption is limited to the default column triple — a custom-col
    resume must fail closed instead of silently appending sequences
    packed from different columns."""
    import pytest as _pytest

    import paimon_presto_spark.operators.emit as emit_mod

    t = _mk_table(catalog)
    kw = dict(seq_len=8, n_shards=4, shards_per_commit=2)
    real_fp = emit_mod._geometry_fingerprint

    def legacy_fp(seq_len, vocab, n_shards, shards_per_commit, salt,
                  eos_id, cols):
        return real_fp(seq_len, vocab, n_shards, shards_per_commit, salt,
                       eos_id, None)

    monkeypatch.setattr(emit_mod, "_geometry_fingerprint", legacy_fp)
    emit_mod.emit_training_shards(docs, t, max_commits=1, **kw)
    monkeypatch.undo()

    docs2 = docs.withColumnRenamed("text", "body")
    with _pytest.raises(ValueError, match="pre-column-fingerprint"):
        emit_mod.emit_training_shards(docs2, t, text_col="body", **kw)
