"""Pins for the round-11 ADVICE fixes (applied in round 12).

1. splink_sql_to_spark(pair_suffixes=True) detects conditions already in
   the l./r. alias dialect and skips the suffix rewrite for them — a real
   column named ``total_l`` referenced as ``l."total_l"`` stays
   ``l.`total_l``, not the invalid ``l.l.`total``.
2. bpe_encode eagerly reaps every intermediate parquet round, leaving ONE
   surviving tree per call (the directory the returned lazy frame reads),
   and cleanup_bpe_temps() reaps those on demand.
3. Catalog.save confirms the pointer flip with a unique writer token —
   a clobbered flip raises ConcurrentWriterError instead of silently
   believing it won.
4. sample_video_frames validates every_ms at entry — a bad caller
   argument raises ValueError instead of marking every document corrupt.
"""

from __future__ import annotations

import json
import os

import pytest


# ---------------------------------------------------------------------------
# 1. alias-dialect detection under pair_suffixes
# ---------------------------------------------------------------------------


def test_pair_suffixes_skips_alias_dialect_conditions():
    from matchbox_spark.operators.probabilistic import splink_sql_to_spark

    # column literally named total_l, referenced in the alias dialect:
    # must NOT be re-suffix-rewritten into l.l.`total`
    out = splink_sql_to_spark('l."total_l" = r."total_l"', pair_suffixes=True)
    assert out == "l.`total_l` = r.`total_l`"
    # bare alias-qualified reference, same rule
    out = splink_sql_to_spark("l.total_l = r.total_l", pair_suffixes=True)
    assert "l.l." not in out and "r.l." not in out


def test_pair_suffixes_still_rewrites_suffix_dialect():
    from matchbox_spark.operators.probabilistic import splink_sql_to_spark

    # splink's serialised pairwise dialect still rewrites to aliases
    out = splink_sql_to_spark(
        '"first_name_l" = "first_name_r"', pair_suffixes=True
    )
    assert out == "l.`first_name` = r.`first_name`"
    out = splink_sql_to_spark("dob_l = dob_r", pair_suffixes=True)
    assert out == "l.`dob` = r.`dob`"


def test_pair_suffixes_alias_detection_ignores_string_literals():
    from matchbox_spark.operators.probabilistic import splink_sql_to_spark

    # an 'l.' inside a string literal is NOT an alias reference; the
    # suffix dialect should still rewrite
    out = splink_sql_to_spark("city_l = 'l.london'", pair_suffixes=True)
    assert out == "l.`city` = 'l.london'"


# ---------------------------------------------------------------------------
# 2. bpe_encode temp hygiene
# ---------------------------------------------------------------------------


def test_bpe_encode_reaps_intermediates_and_cleanup_handle(
    spark, force_distributed
):
    from matchbox_spark.operators import tokenize as tk

    # this pins the PARQUET round-trip path's disk reaping (r11); the r14
    # driver twin never touches disk, so force the distributed branch
    force_distributed("bpe")
    docs = spark.createDataFrame(
        [("low low lower lowest",), ("low lower newest",)], ["text"]
    )
    before = list(tk._BPE_TMP_DIRS)
    merges = [("l", "o"), ("lo", "w")]
    wd = tk.bpe_encode(docs, merges, top_words=10)
    created = [d for d in tk._BPE_TMP_DIRS if d not in before]
    assert len(created) == 1
    tmp = created[0]
    # exactly ONE surviving parquet tree (the final round's), and the
    # returned frame reads it — not three copies
    children = sorted(os.listdir(tmp))
    assert len(children) == 1, children
    rows = {r["word"]: list(r["syms"]) for r in wd.collect()}
    assert rows["low"] == ["low"]
    # the cleanup handle reaps it and empties the registry
    n = tk.cleanup_bpe_temps()
    assert n >= 1
    assert not os.path.exists(tmp)
    assert tk._BPE_TMP_DIRS == []


# ---------------------------------------------------------------------------
# 3. writer-token confirm on the snapshot pointer flip
# ---------------------------------------------------------------------------


def test_save_detects_clobbered_pointer_flip(spark, tmp_path, monkeypatch):
    from matchbox_spark.plans.catalog import Catalog, ConcurrentWriterError

    cat = Catalog(spark, path=str(tmp_path / "cat"))
    cat.save()  # snapshot 1, clean

    manifest = os.path.join(cat.path, "steps.json")
    real_replace = os.replace

    def clobbering_replace(src, dst):
        real_replace(src, dst)
        # a concurrent writer flips the pointer right after ours lands
        if dst == manifest:
            with open(manifest) as f:
                meta = json.load(f)
            meta["writer_token"] = "someone-else"
            with open(manifest + ".x", "w") as f:
                json.dump(meta, f)
            real_replace(manifest + ".x", manifest)

    monkeypatch.setattr(
        "matchbox_spark.plans.catalog.os.replace", clobbering_replace
    )
    with pytest.raises(ConcurrentWriterError, match="another writer"):
        cat.save()


def test_save_token_roundtrip_clean(spark, tmp_path):
    from matchbox_spark.plans.catalog import Catalog

    cat = Catalog(spark, path=str(tmp_path / "cat2"))
    cat.save()
    cat.save()  # second save must pass its own confirm
    with open(os.path.join(cat.path, "steps.json")) as f:
        meta = json.load(f)
    assert meta["snapshot"] == 2
    assert isinstance(meta.get("writer_token"), str)
    # a fresh load ignores the extra key
    cat2 = Catalog(spark, path=cat.path)
    assert cat2._snapshot_id == 2


# ---------------------------------------------------------------------------
# 4. every_ms fail-fast
# ---------------------------------------------------------------------------


def test_sample_video_frames_rejects_bad_every_ms(spark):
    from matchbox_spark.operators.multimodal import sample_video_frames

    df = spark.createDataFrame([(1, bytearray(b"x"))], ["doc_id", "payload"])
    with pytest.raises(ValueError, match="every_ms"):
        sample_video_frames(df, every_ms=0)
    with pytest.raises(ValueError, match="every_ms"):
        sample_video_frames(df, every_ms=-100)
