"""Tests for pipeline operators (dedup recall on planted near-dups,
similarity self-hit, multimodal plumbing), line-protocol ingest, and GIS."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cnosdb_spark.operators import dedup, similarity, text
from cnosdb_spark.operators.multimodal import extract_features, synthetic_media
from cnosdb_spark.sources.line_protocol import lines_to_tables, parse_lines


@pytest.fixture()
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely different content about spark distributed query engines"
    rows = [(0, base), (1, near), (2, other), (3, base.upper())]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_case_whitespace(spark, docs):
    out = dedup.exact_dedup(docs, "text", "doc_id").collect()
    counts = {r["doc_id"]: r["dup_count"] for r in out}
    assert counts[0] == 2  # doc 3 is a case-variant duplicate of doc 0
    assert counts[1] == 1 and counts[2] == 1


def test_jaccard_finds_near_dup(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 3) in got  # exact dup after normalization → jaccard 1.0
    assert (0, 1) in got or (1, 3) in got  # one-word edit → high overlap


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id").collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 3) in got


def test_simhash_near_dup(spark, docs):
    fps = {r["_id"]: r["simhash"] for r in dedup.simhash(docs, "text", "doc_id").collect()}
    assert fps[0] == fps[3]  # identical after normalization
    pairs = dedup.simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=6).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(0, 3)}


def test_embedding_near_dup_and_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = dedup.embedding_near_dup_pairs(emb, "embedding", "vec_id", 0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = similarity.brute_force_topk(emb, q, k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 1]  # self first, near second
    approx = similarity.lsh_topk(emb, q, dim=3, k=2, n_planes=2).collect()
    assert approx[0]["vec_id"] == 0  # self always shares its own bucket


def test_near_dup_bucket_ceiling(spark):
    """max_bucket_size drops oversized band buckets before the quadratic
    pair expansion: a pair that meets ONLY in the hot bucket is lost (the
    documented recall trade), pairs meeting in small buckets survive, and
    a generous ceiling changes nothing."""
    # vec 0/1: cosine ~0.9, same signs in band 0, DIFFERENT in band 1 →
    # they meet only in band-0's bucket. 50 fillers crowd that bucket.
    rows = [(0, [1.0, 1.0, 1.0, 1.0]), (1, [1.0, 1.0, -0.1, -0.1])]
    rows += [
        (i, [1.0, 1.0 + i * 0.01, (-1.0) ** i * (1 + i), (-1.0) ** (i + 1) * (1 + i)])
        for i in range(2, 52)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def pairs(**kw):
        return {
            (r["id_a"], r["id_b"])
            for r in dedup.embedding_near_dup_pairs(
                emb, "embedding", "vec_id", threshold=0.5, bands=2, band_dims=2, **kw
            ).collect()
        }

    base = pairs()
    assert (0, 1) in base
    capped = pairs(max_bucket_size=10)  # band-0 bucket holds all 52 → dropped
    assert capped <= base               # ceiling only ever drops candidates
    assert (0, 1) not in capped         # the hot-bucket-only pair is the cost
    assert pairs(max_bucket_size=10_000) == base  # generous ceiling = no-op


def test_lang_id(spark):
    rows = [
        (0, "the cat and the dog of the house is that"),
        (1, "der hund und die katze ist nicht das problem"),
        (2, "xyzzy qwerty asdf"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(df, "text").collect()}
    assert out == {0: "en", 1: "de", 2: "und"}


def test_multimodal_features(spark):
    media = synthetic_media(spark, n=12)
    out = extract_features(media).collect()
    assert len(out) == 12
    for r in out:
        assert len(r["feature"]) == 8
        assert r["n_bytes"] > 0
        assert r["feature"][7] == float(r["n_bytes"])  # len moment


def test_multimodal_codec_fallback(spark):
    """use_codec=True in a codec-less container falls back to the stub
    features (payloads aren't valid media anyway) — same rows either way."""
    media = synthetic_media(spark, n=6)
    stub = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    codec = {
        r["media_id"]: r["feature"]
        for r in extract_features(media, use_codec=True).collect()
    }
    assert stub == codec


def test_multimodal_real_decode_activates_with_pil(spark):
    """When PIL exists, real_decode parses an actual PNG and use_codec=True
    features reflect decoded pixels (skips in codec-less containers)."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from cnosdb_spark.operators import multimodal as mm

    buf = io.BytesIO()
    Image.new("L", (4, 4), color=128).save(buf, format="PNG")
    png = buf.getvalue()
    arr = mm.real_decode(png, "image")
    assert arr.shape == (4, 4) and int(arr[0][0]) == 128
    df = spark.createDataFrame(
        [(0, "image", bytearray(png), None)], mm.MEDIA_SCHEMA
    )
    row = extract_features(df, use_codec=True).collect()[0]
    # 16 decoded pixels, all 128 → mean 128, std 0, count 16
    assert row["feature"][0] == 128.0 and row["feature"][1] == 0.0
    assert row["feature"][7] == 16.0


def test_multimodal_real_decode_stub_boundary():
    """Payloads no decoder understands raise the documented
    NotImplementedError (never a silent wrong answer)."""
    from cnosdb_spark.operators import multimodal as mm

    if mm.HAS_PIL:
        pytest.skip("PIL installed: real path active")
    with pytest.raises(NotImplementedError):
        mm.real_decode(b"\x89PNG", "image")  # magic truncated → not a PNG
    with pytest.raises(NotImplementedError):
        mm.real_decode(b"\x00not-audio", "audio")  # no RIFF magic
    if not mm.HAS_SOUNDFILE:
        # claims to be RIFF but is truncated garbage → loud ValueError
        # from the stdlib-wave path, never a silent wrong answer
        with pytest.raises(ValueError):
            mm.real_decode(b"RIFF....WAVE", "audio")


def test_png_roundtrip_and_features(spark):
    """The vendored pure-python PNG codec: encode→decode is the identity,
    real_decode accepts it with NO codec library installed, and
    use_codec=True features reflect DECODED pixels, not file bytes."""
    import numpy as np

    from cnosdb_spark.operators import multimodal as mm

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(9, 13), dtype=np.uint8)
    png = mm.png_encode_gray(img)
    assert np.array_equal(mm.png_decode_gray(png), img)
    arr = mm.real_decode(png, "image")  # dispatches PIL or the vendored path
    assert np.array_equal(arr, img)

    flat = mm.png_encode_gray(np.full((4, 4), 128, dtype=np.uint8))
    df = spark.createDataFrame(
        [(0, "image", bytearray(flat), None)], mm.MEDIA_SCHEMA
    )
    row = extract_features(df, use_codec=True).collect()[0]
    # 16 decoded pixels, all 128 → mean 128, std 0, count 16 — whereas the
    # stub over raw FILE bytes would see headers/zlib noise
    assert row["feature"][0] == 128.0 and row["feature"][1] == 0.0
    assert row["feature"][7] == 16.0


def test_png_decoder_all_filters_and_rgb():
    """Hand-built PNGs exercising scanline filters 1-4 and the RGB→L luma
    conversion must decode exactly (the filters are the bug-prone part —
    each is verified against independently filtered bytes)."""
    import struct
    import zlib

    import numpy as np

    from cnosdb_spark.operators import multimodal as mm

    def build_png(px: np.ndarray, color: int, filters: list[int]) -> bytes:
        h, w, ch = px.shape
        raw = bytearray()
        prev = np.zeros(w * ch, dtype=np.int32)
        for y, f in zip(range(h), filters):
            line = px[y].reshape(-1).astype(np.int32)
            raw.append(f)
            for x in range(w * ch):
                a = line[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                raw.append(int((line[x] - pred) % 256))
            prev = line

        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, size=(5, 6, 1), dtype=np.uint8)
    png = build_png(gray, color=0, filters=[0, 1, 2, 3, 4])
    assert np.array_equal(mm.png_decode_gray(png), gray[:, :, 0])

    rgb = rng.integers(0, 256, size=(4, 3, 3), dtype=np.uint8)
    png_rgb = build_png(rgb, color=2, filters=[4, 3, 2, 1])
    want = (
        (rgb[:, :, 0].astype(np.uint32) * 299
         + rgb[:, :, 1].astype(np.uint32) * 587
         + rgb[:, :, 2].astype(np.uint32) * 114) // 1000
    ).astype(np.uint8)
    assert np.array_equal(mm.png_decode_gray(png_rgb), want)

    rgba = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8)
    png_rgba = build_png(rgba, color=6, filters=[1, 4, 3])
    want_a = (
        (rgba[:, :, 0].astype(np.uint32) * 299
         + rgba[:, :, 1].astype(np.uint32) * 587
         + rgba[:, :, 2].astype(np.uint32) * 114) // 1000
    ).astype(np.uint8)
    assert np.array_equal(mm.png_decode_gray(png_rgba), want_a)

    with pytest.raises(ValueError, match="unsupported PNG"):
        # 16-bit depth is out of scope and must refuse loudly
        bad = bytearray(build_png(gray, color=0, filters=[0] * 5))
        bad[24] = 16  # depth byte inside IHDR
        mm.png_decode_gray(bytes(bad))


# ---- line protocol (reference common/protocol_parser/src/line_protocol) ----

def test_line_protocol_parse_types():
    text_lp = (
        'weather,location=us-midwest,season=summer temperature=82i,ok=true,desc="too warm" 1465839830100400200\n'
        "weather,location=us-east temperature=75.5 1465839830100400200\n"
    )
    parsed = parse_lines(text_lp)
    rows = parsed["weather"]
    assert rows[0]["location"] == "us-midwest"
    assert rows[0]["temperature"] == 82 and rows[0]["ok"] is True
    assert rows[0]["desc"] == "too warm"
    assert rows[1]["temperature"] == 75.5
    assert rows[0]["time"].year == 2016


def test_line_protocol_escapes_and_df(spark):
    lp = 'wea\\,ther,tag\\ key=va\\=lue f1=1i 1000000000\n'
    parsed = parse_lines(lp)
    assert "wea,ther" in parsed
    assert parsed["wea,ther"][0]["tag key"] == "va=lue"
    tables = lines_to_tables(spark, 'm,t=a f=1.5,g=2i 1000000000\nm,t=b f=2.5 2000000000\n')
    df, tags = tables["m"]
    assert tags == {"t"}
    rows = df.orderBy("time").collect()
    assert rows[0]["f"] == 1.5 and rows[0]["g"] == 2
    assert rows[1]["g"] is None  # schemaless union of fields


# ---- GIS (reference extension/expr/scalar_function/gis/) ----

def test_gis_functions(spark):
    from cnosdb_spark.functions import gis

    df = spark.createDataFrame(
        [
            ("POINT(0 0)", "POINT(3 4)", "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"),
            ("POINT(20 20)", "POINT(0 0)", "POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"),
        ],
        ["a", "b", "poly"],
    )
    out = df.select(
        gis.st_distance(F.col("a"), F.col("b")).alias("dist"),
        gis.st_area(F.col("poly")).alias("area"),
        gis.st_contains(F.col("poly"), F.col("a")).alias("contains"),
        gis.st_within(F.col("a"), F.col("poly")).alias("within"),
    ).collect()
    assert out[0]["dist"] == 5.0
    assert out[0]["area"] == 100.0
    # (0,0) is a boundary vertex; ray-cast counts it inside for this winding
    assert out[1]["contains"] is False and out[1]["within"] is False
    assert out[1]["area"] == 4.0


def test_resolve_duplicate_clusters(spark):
    from pyspark.sql import functions as F

    ids = spark.createDataFrame([(i,) for i in range(7)], ["_id"])
    # two clusters {0,1,2,3} (chain) and {5,6}; 4 is a singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
    )
    out = {r["id"]: (r["cluster_id"], r["is_canonical"])
           for r in dedup.resolve_duplicate_clusters(ids, pairs, "_id").collect()}
    assert out[0] == (0, True) and out[1] == (0, False)
    assert out[2] == (0, False) and out[3] == (0, False)
    assert out[4] == (4, True)
    assert out[5] == (5, True) and out[6] == (5, False)


def test_ivf_topk_recall(spark):
    import numpy as np
    rng = np.random.default_rng(7)
    # 3 well-separated gaussian clusters in 8d
    centers = rng.standard_normal((3, 8)) * 10
    rows = []
    for i in range(90):
        c = centers[i % 3]
        rows.append((i, (c + rng.standard_normal(8) * 0.1).tolist()))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = similarity.ivf_centroids(emb, "embedding", n_centroids=6)
    q = emb.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding AS query_vec")
    approx = similarity.ivf_topk(emb, q, cents, k=5, n_probe=3)
    exact = similarity.brute_force_topk(emb, q, k=5)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    # hash-sampled seeds may cover clusters unevenly; require high recall,
    # not exactness, plus guaranteed self-hits
    assert len(a & e) / len(e) >= 0.6
    for qid in (0, 1, 2):
        assert (qid, qid) in a


def test_multimodal_resize_and_frames(spark):
    from cnosdb_spark.operators.multimodal import resize_images, sample_frames

    media = synthetic_media(spark, n=12)
    small = resize_images(media, 4, 4).collect()
    assert len(small) == 4  # 12 media, every 3rd is an image
    assert all(len(r["payload"]) == 16 for r in small)
    assert all((r["width"], r["height"]) == (4, 4) for r in small)
    frames = sample_frames(media, n_frames=3, frame_bytes=8).collect()
    vids = {r["media_id"] for r in frames}
    assert len(frames) == 3 * len(vids) and len(vids) == 4
    assert all(len(r["frame"]) == 8 for r in frames)


# ---------------------------------------------------------------- curation

def test_decontaminate_flags_benchmark_overlap(spark):
    from cnosdb_spark.operators.curation import decontaminate

    bench = spark.createDataFrame(
        [(0, "What is the capital of France Paris is the answer here")],
        ["qid", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # verbatim 8-gram from the benchmark embedded mid-document
            (10, "intro text What is the capital of France Paris is more text"),
            (11, "a completely unrelated document about distributed query engines"),
            # case/whitespace variant still matches (normalize() runs first)
            (12, "WHAT IS   THE CAPITAL OF FRANCE PARIS IS"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: (r["matched_ngrams"], r["contaminated"])
           for r in decontaminate(corpus, bench, n=8).collect()}
    assert out[10][1] is True and out[10][0] >= 1
    assert out[11] == (0, False)
    assert out[12][1] is True


def test_decontaminate_broadcast_plan(spark):
    from cnosdb_spark.operators.curation import decontaminate

    corpus = spark.createDataFrame([(1, "a b c d e f g h i")], ["doc_id", "text"])
    bench = spark.createDataFrame([(1, "a b c d e f g h")], ["qid", "text"])
    plan = decontaminate(corpus, bench)._jdf.queryExecution().toString()
    # the benchmark probe side must be broadcast: the corpus shingle
    # table is never shuffled for the match join
    assert "BroadcastHashJoin" in plan or "broadcast" in plan.lower()


def test_split_dataset_deterministic_and_complete(spark):
    from cnosdb_spark.operators.curation import split_dataset

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = split_dataset(df, "doc_id", w).groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    assert 1400 <= counts["train"] <= 1800  # ~1600 expected
    # stable across recomputation and independent of partitioning
    b = split_dataset(df.repartition(13), "doc_id", w)
    joined = split_dataset(df, "doc_id", w).alias("x").join(
        b.alias("y"), "doc_id"
    ).filter("x.split <> y.split")
    assert joined.count() == 0


def test_split_dataset_matches_duckdb_oracle(spark):
    """The md5-bucket arithmetic is ANSI-SQL-reproducible: DuckDB computes
    the identical split for every id."""
    import duckdb

    from cnosdb_spark.operators.curation import split_dataset

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["split"]
        for r in split_dataset(df, "doc_id", {"train": 0.9, "val": 0.1}).collect()
    }
    duck = duckdb.connect().execute(
        """
        SELECT i AS doc_id,
               CASE WHEN CAST(('0x' || substring(md5('split|' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
                         / 4294967296.0 < 0.9
                    THEN 'train' ELSE 'val' END AS split
        FROM range(0, 500) t(i)
        """
    ).fetchall()
    assert {int(i): s for i, s in duck} == got


def test_redact_pii(spark):
    from cnosdb_spark.operators.curation import redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact alice.smith+x@example.co.uk or call +1 (555) 010-7788 now"),
            (2, "server at 10.0.42.7 responded; fallback 192.168.1.1"),
            (3, "no identifiers here, just prose about engines"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and "<EMAIL>" in out[1]["text_redacted"]
    assert "alice" not in out[1]["text_redacted"]
    # the phone's digits survive count-before-redact independence
    assert out[1]["n_phone"] >= 1 and "<PHONE>" in out[1]["text_redacted"]
    assert out[2]["n_ip"] == 2 and out[2]["text_redacted"].count("<IP>") == 2
    assert out[3]["n_email"] == out[3]["n_ip"] == out[3]["n_phone"] == 0
    assert out[3]["text_redacted"] == out[3]["text"]


def test_repetition_stats_pinned(spark):
    from cnosdb_spark.operators.curation import repetition_stats

    txt_dup = "menu\nhome\nmenu\nhome\n\n\nmenu\nhome"  # 2 paras, all lines dup
    txt_clean = "alpha\nbeta\n\n\ngamma"
    df = spark.createDataFrame(
        [(1, txt_dup), (2, txt_clean), (3, ""), (4, "\n\n\n")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    # doc 1: 6 lines, 2 distinct -> dup_line_frac 4/6
    assert abs(out[1]["dup_line_frac"] - 4 / 6) < 1e-9
    # paragraphs: ["menu\nhome\nmenu\nhome", "menu\nhome"] -> distinct, 0 dup
    assert out[1]["dup_para_frac"] == 0.0
    assert out[2]["dup_line_frac"] == 0.0 and out[2]["dup_para_char_frac"] == 0.0
    assert out[3]["dup_line_frac"] == 0.0 and out[4]["dup_para_frac"] == 0.0


def test_repetition_stats_matches_duckdb(spark):
    """Duplicate line/paragraph fractions are list-expression reproducible
    in DuckDB over the same seeded documents."""
    import duckdb

    from cnosdb_spark.operators.curation import repetition_stats

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["dup_line_frac"], r["dup_line_char_frac"])
        for r in repetition_stats(
            spark.read.parquet(f"{sf}/documents.parquet")
        ).select("doc_id", "dup_line_frac", "dup_line_char_frac").collect()
    }
    duck = duckdb.connect().execute(
        f"""
        WITH l AS (
          SELECT doc_id,
                 list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                             x -> x <> '') AS lines
          FROM read_parquet('{sf}/documents.parquet'))
        SELECT doc_id,
          CASE WHEN len(lines) > 0
               THEN (len(lines) - len(list_distinct(lines))) * 1.0 / len(lines)
               ELSE 0 END AS dlf,
          CASE WHEN coalesce(list_sum(list_transform(lines, x -> length(x))), 0) > 0
               THEN (list_sum(list_transform(lines, x -> length(x)))
                     - list_sum(list_transform(list_distinct(lines), x -> length(x))))
                    * 1.0 / list_sum(list_transform(lines, x -> length(x)))
               ELSE 0 END AS dlcf
        FROM l
        """
    ).fetchall()
    assert len(duck) == len(got) > 0
    for doc_id, dlf, dlcf in duck:
        sdlf, sdlcf = got[doc_id]
        assert abs(sdlf - float(dlf)) < 1e-9, doc_id
        assert abs(sdlcf - float(dlcf)) < 1e-9, doc_id


def test_duplicate_paragraphs_and_strip(spark):
    from cnosdb_spark.operators.curation import duplicate_paragraphs, strip_boilerplate

    footer = "Copyright 2026 ACME Corp\nAll rights reserved"
    df = spark.createDataFrame(
        [
            (1, f"unique intro one\n\n{footer}"),
            (2, f"different body text\n\n{footer}"),
            (3, f"third doc entirely\n\n{footer.upper()}"),  # case variant
            (4, "no boilerplate at all"),
        ],
        ["doc_id", "text"],
    )
    dup = duplicate_paragraphs(df, min_docs=2).collect()
    assert len(dup) == 1 and dup[0]["n_docs"] == 3  # normalize() folds case
    out = {r["doc_id"]: r for r in strip_boilerplate(df, min_docs=2).collect()}
    assert out[1]["text_clean"] == "unique intro one"
    assert out[2]["n_paras_kept"] == 1 and out[2]["n_paras_total"] == 2
    assert out[3]["text_clean"] == "third doc entirely"
    assert out[4]["text_clean"] == "no boilerplate at all"
    assert out[4]["n_paras_kept"] == 1


def test_strip_boilerplate_plan_no_cartesian(spark):
    from cnosdb_spark.operators.curation import strip_boilerplate

    df = spark.createDataFrame([(1, "a\n\nb"), (2, "a\n\nc")], ["doc_id", "text"])
    plan = strip_boilerplate(df)._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_redact_pii_no_cross_category_double_count(spark):
    """Digits inside an already-redacted IP must not also count as a
    phone (counts run on the progressively redacted text)."""
    from cnosdb_spark.operators.curation import redact_pii

    df = spark.createDataFrame([(1, "host 192.168.100.200 only")], ["doc_id", "text"])
    r = redact_pii(df).collect()[0]
    assert r["n_ip"] == 1 and r["n_phone"] == 0 and r["n_email"] == 0
    assert r["text_redacted"] == "host <IP> only"


# ---------------------------------------------------------------------
# duplicate-span (exact-substring) dedup — Lee et al. 2022 style
# ---------------------------------------------------------------------

def _span_docs(spark):
    boiler = "this code is licensed under the apache license version two"
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"{boiler} unrelated middle text here okay fine then {boiler}"),
        (3, "totally unique document with no duplicated span at all right"),
        (4, f"prefix words {boiler} suffix words"),
        (5, "alpha beta gamma"),  # shorter than k → never windowed
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_duplicate_spans_matches_duckdb(spark):
    """Span table vs an independent DuckDB evaluation of the same
    window-hash → count → keep-first → interval-merge pipeline."""
    import duckdb

    from .oracle import compare

    k = 6
    docs = _span_docs(spark)
    got = dedup.duplicate_spans(docs, "text", "doc_id", k=k).select(
        "doc_id", "span_start", "span_end", "n_windows"
    )
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    want = con.execute(
        f"""
        WITH t AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
          FROM docs WHERE len(string_split_regex(trim(text), '\\s+')) >= {k}),
        w0 AS (
          SELECT doc_id, toks, unnest(range(1, len(toks) - {k} + 2)) AS i FROM t),
        w AS (
          SELECT doc_id, i - 1 AS pos,
                 md5(array_to_string(toks[i:i+{k}-1], chr(31))) AS h
          FROM w0),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
                 count(*) OVER (PARTITION BY h) AS c
          FROM w),
        hits AS (SELECT doc_id, pos FROM ranked WHERE c >= 2 AND rn > 1),
        grp AS (
          SELECT doc_id, pos,
                 sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS g
          FROM (SELECT doc_id, pos,
                       max(pos + {k}) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
                FROM hits))
        SELECT doc_id, min(pos) AS span_start,
               CAST(max(pos) + {k} AS BIGINT) AS span_end,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM grp GROUP BY doc_id, g
        """
    ).df()
    errs = compare(got, want, "duplicate_spans")
    assert not errs, "\n".join(errs)


def test_remove_duplicate_spans_semantics(spark):
    k = 6
    docs = _span_docs(spark)
    out = {
        r["doc_id"]: r
        for r in dedup.remove_duplicate_spans(docs, "text", "doc_id", k=k).collect()
    }
    boiler = "this code is licensed under the apache license version two"
    # doc 1 holds the globally-first occurrence (min (doc_id, pos)) → kept
    assert boiler in out[1]["text"] and out[1]["n_tokens_removed"] == 0
    # doc 2 loses BOTH its copies (two disjoint spans), doc 4 loses its one
    assert boiler not in out[2]["text"] and out[2]["n_spans_removed"] == 2
    assert out[2]["text"].startswith("unrelated middle text")
    assert out[4]["text"] == "prefix words suffix words"
    assert out[4]["n_tokens_removed"] == len(boiler.split())
    # untouched docs pass through whole
    assert out[3]["n_tokens_removed"] == 0 and "unique document" in out[3]["text"]
    assert out[5]["text"] == "alpha beta gamma"
    # removal is conservative: total tokens removed == sum of span widths
    spans = dedup.duplicate_spans(docs, "text", "doc_id", k=k).collect()
    assert sum(r["n_tokens_removed"] for r in out.values()) == sum(
        r["span_end"] - r["span_start"] for r in spans
    )


def test_duplicate_spans_keep_first_false_and_min_count(spark):
    docs = _span_docs(spark)
    # keep_first=False marks EVERY occurrence, including the first
    all_spans = dedup.duplicate_spans(
        docs, "text", "doc_id", k=6, keep_first=False
    ).collect()
    assert {r["doc_id"] for r in all_spans} == {1, 2, 4}
    # min_count above the actual multiplicity → nothing flagged
    none = dedup.duplicate_spans(
        docs, "text", "doc_id", k=6, min_count=5
    ).count()
    assert none == 0


def test_duplicate_spans_plan_shape(spark):
    """One vocabulary shuffle with map-side partial aggregation; no
    nested-loop join anywhere (the join-back is keyed on the hash)."""
    docs = _span_docs(spark)
    p = (
        dedup.duplicate_spans(docs, "text", "doc_id", k=6)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
    )
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p


# ---------------------------------------------------------------------
# product quantization (ADC search)
# ---------------------------------------------------------------------

def test_pq_roundtrip_and_recall(spark):
    """PQ codes + ADC top-k must be deterministic and agree with exact
    brute-force cosine on most neighbors (recall@10 on the synthetic
    embeddings; PQ is approximate — the bar is usefulness, not equality)."""
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR
    from .twins import (
        ivf_assign_expr,
        minhash_signatures_expr,
        pq_encode_expr,
        simhash_expr,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    books = similarity.pq_codebooks(emb, "embedding", m=8, k=16)
    assert len(books) == 8 and len(books[0]) == 16
    # deterministic: retraining yields identical codebooks
    assert books == similarity.pq_codebooks(emb, "embedding", m=8, k=16)

    codes = similarity.pq_encode(emb, "embedding", books)
    row = codes.select("pq_code").first()
    assert len(row["pq_code"]) == 8
    assert all(0 <= c < 16 for c in row["pq_code"])

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.brute_force_topk(emb, queries, k=10)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}

    # raw ADC: near-random 64-dim synthetic vectors have tightly bunched
    # pairwise distances, so lossy codes keep only partial neighbor sets —
    # but the true nearest (self) must always surface first
    got = similarity.pq_topk(codes, queries, books, k=10)
    g = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    raw_recall = len(g & e) / len(e)
    assert raw_recall >= 0.15, f"raw ADC recall collapsed: {raw_recall}"
    firsts = {r["query_id"]: r["vec_id"] for r in got.filter(F.col("rank") == 1).collect()}
    assert all(q == v for q, v in firsts.items())

    # production two-stage: ADC shortlist of 150 + exact re-rank → the
    # final top-10 recovers most of the exact neighbor set
    refined = similarity.pq_topk(codes, queries, books, k=10, refine=150)
    rg = {(r["query_id"], r["vec_id"]) for r in refined.collect()}
    refined_recall = len(rg & e) / len(e)
    assert refined_recall >= 0.8, f"refined recall@10 too low: {refined_recall}"
    assert refined_recall > raw_recall


def test_pq_topk_plan_one_scan_broadcast(spark):
    """ADC search must be one corpus scan: the Arrow scoring kernel
    emits per-batch shortlists, and the only join is the broadcast hash
    join attaching the query ids to the shortlist (the distance tables
    themselves ride the kernel closure, never a join)."""
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR
    from .twins import (
        ivf_assign_expr,
        minhash_signatures_expr,
        pq_encode_expr,
        simhash_expr,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    books = similarity.pq_codebooks(emb, "embedding", m=8, k=16)
    codes = similarity.pq_encode(emb, "embedding", books)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    p = (
        similarity.pq_topk(codes, queries, books, k=5)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
    )
    assert "BroadcastExchange" in p
    assert p.count("Scan parquet") <= 2  # corpus once + query-side seed


def test_pq_dim_guard(spark):
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_codebooks(emb, "embedding", m=7)


def test_pq_codebooks_sample_smaller_than_k_raises(spark):
    """A corpus sample with fewer rows than k must raise, not silently
    train a narrower code range (persisted codes assume k entries)."""
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings").limit(5)
    with pytest.raises(ValueError, match="< k=16"):
        similarity.pq_codebooks(emb, "embedding", m=8, k=16)


def test_arrow_kernels_bit_identical_to_expression_forms(spark):
    """The vectorized mapInArrow kernels (pq_encode, ivf_assign) must
    produce BIT-identical output to the interpreted expression forms
    they replaced — same sequential fold order, same first-min/max
    tie-breaks — because the DuckDB differential oracles replay the
    expression arithmetic."""
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR
    from .twins import (
        ivf_assign_expr,
        minhash_signatures_expr,
        pq_encode_expr,
        simhash_expr,
    )

    emb = read_table(spark, SF_DIR, "embeddings")
    books = similarity.pq_codebooks(emb, "embedding", m=8, k=16)
    arrow_codes = {
        r["vec_id"]: r["pq_code"]
        for r in similarity.pq_encode(emb, "embedding", books).collect()
    }
    expr_codes = {
        r["vec_id"]: r["pq_code"]
        for r in pq_encode_expr(emb, "embedding", books).collect()
    }
    assert arrow_codes == expr_codes

    cents = similarity.ivf_centroids(emb, "embedding", n_centroids=8)
    src = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("_v"))
    arrow_asg = {
        r["vec_id"]: r["_cluster"]
        for r in similarity.ivf_assign(src, "_v", cents).collect()
    }
    expr_asg = {
        r["vec_id"]: r["_cluster"]
        for r in ivf_assign_expr(src, "_v", cents).collect()
    }
    assert arrow_asg == expr_asg

    docs = read_table(spark, SF_DIR, "documents")
    arrow_sh = {
        r["_id"]: r["simhash"]
        for r in dedup.simhash(docs, "text", "doc_id").collect()
    }
    expr_sh = {
        r["_id"]: r["simhash"]
        for r in simhash_expr(docs, "text", "doc_id").collect()
    }
    assert arrow_sh == expr_sh
    # empty-token rows fold to fingerprint 0 on both paths
    empty = spark.createDataFrame([(1, ""), (2, "   ")], ["doc_id", "text"])
    assert {r["simhash"] for r in dedup.simhash(empty, "text", "doc_id").collect()} == {0}

    arrow_mh = {r["_id"]: tuple(r)[1:]
                for r in dedup.minhash_signatures(docs, "text", "doc_id").collect()}
    expr_mh = {r["_id"]: tuple(r)[1:]
               for r in minhash_signatures_expr(docs, "text", "doc_id").collect()}
    assert arrow_mh == expr_mh
    # degenerate docs (empty / whitespace-only) agree too — word_ngrams
    # collapses short token lists to one joined shingle, so the arrays
    # are never empty here; the kernel's empty-segment → NULL branch is
    # exercised directly below via a hand-built hash frame
    me = {r["_id"]: tuple(r)[1:]
          for r in dedup.minhash_signatures(empty, "text", "doc_id").collect()}
    mee = {r["_id"]: tuple(r)[1:]
           for r in minhash_signatures_expr(empty, "text", "doc_id").collect()}
    assert me == mee

    # NULL text rows: the kernels must match the expression forms
    # (simhash → 0, minhash → all-NULL signature), not crash or misalign
    withnull = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "alpha beta gamma x")],
        "doc_id long, text string",
    )
    sh_n = {r["_id"]: r["simhash"]
            for r in dedup.simhash(withnull, "text", "doc_id").collect()}
    sh_ne = {r["_id"]: r["simhash"]
             for r in simhash_expr(withnull, "text", "doc_id").collect()}
    assert sh_n == sh_ne and sh_n[2] == 0
    mh_n = {r["_id"]: tuple(r)[1:]
            for r in dedup.minhash_signatures(withnull, "text", "doc_id").collect()}
    mh_ne = {r["_id"]: tuple(r)[1:]
             for r in minhash_signatures_expr(withnull, "text", "doc_id").collect()}
    assert mh_n == mh_ne  # normalize() coalesces NULL text upstream

    # NULL vectors fail loudly in the fixed-width ANN kernels (a silent
    # flatten misalignment would corrupt every downstream row)
    nullvec = spark.createDataFrame(
        [(0, [1.0] * 64), (1, None)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="NULL vector"):
        similarity.pq_encode(nullvec, "embedding", books).collect()


# ---------------------------------------------------------------------
# incremental dedup against a persisted band index
# ---------------------------------------------------------------------

def test_incremental_dedup_against_index(spark, tmp_path):
    """The persisted band table must catch a new batch's near-dups of
    EXISTING corpus docs without touching corpus text, agree with the
    full-recompute answer, and also surface new-vs-new pairs."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(0, base), (1, "completely different content about query engines here")],
        ["doc_id", "text"],
    )
    index_path = str(tmp_path / "band_index")
    dedup.minhash_band_table(corpus, "text", "doc_id").write.parquet(index_path)
    index = spark.read.parquet(index_path)

    new_batch = spark.createDataFrame(
        [
            (100, base.replace("today", "tomorrow")),   # near-dup of corpus doc 0
            (101, base.replace("today", "tomorrow")),   # exact dup of doc 100
            (102, "fresh unrelated text about benchmarks and parquet files"),
        ],
        ["doc_id", "text"],
    )
    got = dedup.dedup_against_index(new_batch, index, "text", "doc_id").collect()
    vs_index = {(r["id_new"], r["id_match"]) for r in got if r["source"] == "index"}
    within = {(r["id_new"], r["id_match"]) for r in got if r["source"] == "batch"}
    assert (100, 0) in vs_index and (101, 0) in vs_index
    assert all(m != 1 for _, m in vs_index)  # the unrelated corpus doc never matches
    assert (100, 101) in within
    assert not any(102 in p for p in vs_index | within)

    # parity with the monolithic recompute: union corpus+batch, full LSH
    full = dedup.minhash_lsh_pairs(
        corpus.unionByName(new_batch), "text", "doc_id"
    ).collect()
    full_pairs = {(r["id_a"], r["id_b"]) for r in full}
    cross_full = {(b, a) for a, b in full_pairs if a < 100 <= b}
    assert cross_full == vs_index


def test_band_index_parameter_stability(spark):
    """Index keys are deterministic: rebuilding the band table yields the
    identical row set (what makes last month's index joinable today)."""
    docs = spark.createDataFrame(
        [(i, f"some text number {i} with shared shingles here") for i in range(10)],
        ["doc_id", "text"],
    )
    a = {(r["doc_id"], r["_bucket"]) for r in dedup.minhash_band_table(docs, "text", "doc_id").collect()}
    b = {(r["doc_id"], r["_bucket"]) for r in dedup.minhash_band_table(docs, "text", "doc_id").collect()}
    assert a == b and len(a) == 40  # 10 docs x 4 bands


def test_ivf_pq_topk_prunes_and_recalls(spark):
    """IVF-PQ: candidates come only from probed clusters (equi-join on the
    cluster id — pruning is visible as a candidate-count drop), self is
    always rank 1, and with exact re-rank the top-10 tracks brute force
    within the probed clusters' ceiling."""
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    cents = similarity.ivf_centroids(emb, "embedding", n_centroids=8)
    books = similarity.pq_codebooks(emb, "embedding", m=8, k=16)
    codes = similarity.ivf_assign(
        similarity.pq_encode(emb, "embedding", books), "embedding", cents
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = similarity.ivf_pq_topk(
        codes, queries, cents, books, k=10, n_probe=3, refine=100
    )
    rows = got.collect()
    assert {r["query_id"] for r in rows} == set(range(5))
    firsts = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert all(q == v for q, v in firsts.items())  # self in its own cluster

    # the IVF-PQ result can only contain ids from the probed clusters —
    # compare against full-corpus PQ: probing must PRUNE, so the candidate
    # universe is a strict subset of the corpus
    full = similarity.pq_topk(codes, queries, books, k=10, refine=100)
    g = {(r["query_id"], r["vec_id"]) for r in rows}
    f = {(r["query_id"], r["vec_id"]) for r in full.collect()}
    overlap = len(g & f) / len(f)
    assert overlap >= 0.5, f"probed search diverged too far: {overlap}"

    # plan: candidate generation is a broadcast HASH join on the cluster
    p = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ann_index_persistence(spark, tmp_path):
    """save/load round-trips centroids + codebooks EXACTLY (float-exact:
    re-encoding with the loaded books yields identical codes), and a
    foreign/corrupt file fails loudly."""
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    cents = similarity.ivf_centroids(emb, "embedding", n_centroids=4)
    books = similarity.pq_codebooks(emb, "embedding", m=8, k=16)
    p = str(tmp_path / "idx" / "ann.json")
    similarity.save_ann_index(p, cents, books, {"m": 8, "k": 16})
    idx = similarity.load_ann_index(p)
    assert idx["centroids"] == cents and idx["codebooks"] == books
    assert idx["params"] == {"m": 8, "k": 16}

    small = emb.limit(20)
    a = [tuple(r) for r in similarity.pq_encode(small, "embedding", books)
         .select("vec_id", "pq_code").collect()]
    b = [tuple(r) for r in similarity.pq_encode(small, "embedding", idx["codebooks"])
         .select("vec_id", "pq_code").collect()]
    assert a == b

    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as f:
        f.write('{"something": "else"}')
    with pytest.raises(ValueError, match="not a cnosdb_spark ANN index"):
        similarity.load_ann_index(bad)
    ragged = str(tmp_path / "ragged.json")
    similarity.save_ann_index(ragged, None, [[[1.0, 2.0]], [[1.0]]])
    with pytest.raises(ValueError, match="ragged codebooks"):
        similarity.load_ann_index(ragged)


def test_ivf_pq_topk_distributed_parity_and_plan(spark):
    """The batch-scoring variant (query table never collected) must return
    EXACTLY what the driver-side ivf_pq_topk returns, for both raw-ADC and
    refined searches — and its plan must read the query side from the
    parquet scan, not a driver-materialized LocalTableScan."""
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    cents = similarity.ivf_centroids(emb, "embedding", n_centroids=8)
    books = similarity.pq_codebooks(emb, "embedding", m=8, k=16)
    codes = similarity.ivf_assign(
        similarity.pq_encode(emb, "embedding", books), "embedding", cents
    )
    queries = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    for kwargs in ({"n_probe": 3}, {"n_probe": 3, "refine": 60}):
        want = similarity.ivf_pq_topk(codes, queries, cents, books, k=10, **kwargs)
        got = similarity.ivf_pq_topk_distributed(
            codes, queries, cents, books, k=10, **kwargs
        )
        w = {tuple(r) for r in want.collect()}
        g = {tuple(r) for r in got.collect()}
        assert g == w, f"distributed != driver-side for {kwargs}"

    dist = similarity.ivf_pq_topk_distributed(
        codes, queries, cents, books, k=10, n_probe=3
    )
    p = dist._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # no query row reaches the driver: the query side stays a parquet scan
    assert "LocalTableScan" not in p and "Scan ExistingRDD" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pq_search_preserves_string_ids(spark):
    """A non-numeric corpus id must survive every PQ search path at its
    ORIGINAL type: under ANSI-off the old cast('long') silently NULLed
    string ids, corrupting output ids and the (dist, id) tie-break.
    Results must be exactly the long-id results with ids mapped, and the
    output schema must keep the string type (brute_force_topk already
    preserved it; these are the three paths that didn't)."""
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    cents = similarity.ivf_centroids(emb, "embedding", n_centroids=4)
    books = similarity.pq_codebooks(emb, "embedding", m=8, k=16)
    codes = similarity.ivf_assign(
        similarity.pq_encode(emb, "embedding", books), "embedding", cents
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # same corpus, string ids zero-padded so string order == numeric order
    # (same tie-break ranking ⇒ results must map 1:1)
    scodes = codes.withColumn("vec_id", F.format_string("v%06d", "vec_id"))

    def mapped(df):
        return {
            (r["query_id"], "v%06d" % r["vec_id"], r["adc_dist"], r["rank"])
            for r in df.collect()
        }

    searches = [
        lambda c, q: similarity.pq_topk(c, q, books, k=5),
        lambda c, q: similarity.ivf_pq_topk(c, q, cents, books, k=5, n_probe=2),
        lambda c, q: similarity.ivf_pq_topk_distributed(
            c, q, cents, books, k=5, n_probe=2
        ),
    ]
    for fn in searches:
        want = mapped(fn(codes, queries))
        got_df = fn(scodes, queries)
        assert dict(got_df.dtypes)["vec_id"] == "string"
        got = {tuple(r) for r in got_df.collect()}
        assert got == want


def test_brute_force_topk_query_ceiling(spark):
    """The query matrix rides every task closure, so an oversized query
    table must fail loudly (single-action limit-probe guard), steering
    the caller to ivf_pq_topk_distributed."""
    from cnosdb_spark.session import read_table
    from .conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="max_queries"):
        similarity.brute_force_topk(emb, queries, k=2, max_queries=3)
    # at the boundary it runs
    assert similarity.brute_force_topk(emb, queries, k=1, max_queries=10).count() == 10


def test_wav_roundtrip_and_features(spark):
    """The stdlib-wave PCM codec: int16 encode→decode is exactly
    samples/32768, real_decode dispatches it with NO codec library, and
    use_codec=True features reflect DECODED samples, not file bytes."""
    import numpy as np

    from cnosdb_spark.operators import multimodal as mm

    rng = np.random.default_rng(3)
    pcm = rng.integers(-32768, 32768, size=257, dtype=np.int16)
    wav = mm.wav_encode_pcm(pcm)
    got = mm.wav_decode_pcm(wav)
    assert np.array_equal(got, pcm.astype(np.float64) / 32768.0)
    if not mm.HAS_SOUNDFILE:
        assert np.array_equal(mm.real_decode(wav, "audio"), got)

    # stereo keeps shape (n, 2)
    st2 = rng.integers(-32768, 32768, size=(40, 2), dtype=np.int16)
    got2 = mm.wav_decode_pcm(mm.wav_encode_pcm(st2))
    assert got2.shape == (40, 2)
    assert np.array_equal(got2, st2.astype(np.float64) / 32768.0)

    # float input quantizes to int16 grid
    f = np.array([0.0, 0.5, -1.0, 0.999])
    dec = mm.wav_decode_pcm(mm.wav_encode_pcm(f))
    assert np.allclose(dec, f, atol=1.0 / 32768.0)

    # constant signal through the Spark feature path: mean exact, std 0
    const = mm.wav_encode_pcm(np.full(64, 1024, dtype=np.int16))
    df = spark.createDataFrame(
        [(0, "audio", bytearray(const), None)], mm.MEDIA_SCHEMA
    )
    row = extract_features(df, use_codec=True).collect()[0]
    assert row["feature"][0] == 1024.0 / 32768.0 and row["feature"][1] == 0.0
    assert row["feature"][7] == 64.0


@pytest.mark.skipif(
    "not __import__('cnosdb_spark.operators.multimodal', fromlist=['HAS_SOUNDFILE']).HAS_SOUNDFILE",
    reason="soundfile not installed: value-parity vs libsndfile is env-gated",
)
def test_wav_decode_matches_soundfile():
    """Value-identity between the stdlib-wave decoder and soundfile on
    PCM16 — the audio analogue of the PNG/PIL byte-identity test."""
    import io

    import numpy as np
    import soundfile as sf

    from cnosdb_spark.operators import multimodal as mm

    rng = np.random.default_rng(5)
    pcm = rng.integers(-32768, 32768, size=(333, 2), dtype=np.int16)
    wav = mm.wav_encode_pcm(pcm, rate=8000)
    ours = mm.wav_decode_pcm(wav)
    theirs, rate = sf.read(io.BytesIO(wav))
    assert rate == 8000
    assert np.array_equal(ours, theirs)


def test_refine_centroids_matches_numpy_lloyd_and_converges(spark):
    import numpy as np

    rng = np.random.default_rng(13)
    centers = rng.standard_normal((4, 6)) * 8
    rows = [
        (i, (centers[i % 4] + rng.standard_normal(6) * 0.3).tolist())
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    seeds = [rows[i][1] for i in (0, 1, 2, 3)]

    got, hist = similarity.refine_centroids(emb, "embedding", seeds, n_iter=4)

    # inertia (avg 1-best_cos) non-increasing up to float reduction order
    assert len(hist) >= 2
    for a, b in zip(hist, hist[1:]):
        assert b <= a + 1e-9

    # numpy reference: same spherical Lloyd recurrence
    X = np.array([r[1] for r in rows])
    C = np.array(seeds, dtype=float)
    for _ in range(4):
        sims = (X @ C.T) / (
            np.linalg.norm(X, axis=1, keepdims=True) * np.linalg.norm(C, axis=1)
        )
        assign = sims.argmax(axis=1)
        C = np.array(
            [
                X[assign == j].mean(axis=0) if (assign == j).any() else C[j]
                for j in range(len(C))
            ]
        )
    assert np.allclose(np.array(got), C, atol=1e-8)


def test_refine_centroids_keeps_empty_cluster_and_improves_recall(spark):
    import numpy as np

    rng = np.random.default_rng(29)
    centers = rng.standard_normal((3, 5)) * 10
    rows = [
        (i, (centers[i % 3] + rng.standard_normal(5) * 0.2).tolist())
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # a far-away seed no vector will choose → its cluster stays empty
    dead = [1e6] * 5
    seeds = [rows[0][1], rows[1][1], rows[2][1], dead]
    got, hist = similarity.refine_centroids(emb, "embedding", seeds, n_iter=2)
    assert got[3] == dead  # empty cluster keeps its previous centroid
    # the live centroids moved toward the true means
    X = np.array([r[1] for r in rows])
    for j in range(3):
        true_mean = X[np.arange(60) % 3 == j].mean(axis=0)
        d_seed = np.linalg.norm(np.array(seeds[j]) - true_mean)
        d_ref = np.linalg.norm(np.array(got[j]) - true_mean)
        assert d_ref <= d_seed + 1e-12


def test_ivf_centroids_multi_iter_deterministic(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(4).tolist()) for i in range(50)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    a = similarity.ivf_centroids(emb, "embedding", n_centroids=4, n_iter=3)
    b = similarity.ivf_centroids(
        emb.repartition(9), "embedding", n_centroids=4, n_iter=3
    )
    # same seeds (md5 order is layout-independent); float sums may differ
    # in reduction order only
    assert np.allclose(np.array(a), np.array(b), atol=1e-9)


def test_dhash_matches_loop_reference_and_decode_chain(spark):
    import numpy as np

    from cnosdb_spark.operators import multimodal as mm

    rng = np.random.default_rng(7)  # same seed as synthetic_png_media
    arrays = []
    for i in range(12):
        h, w = 6 + (i % 7), 8 + (i % 5)
        arrays.append(rng.integers(0, 256, size=(h, w), dtype=np.uint8))

    # independent reference: explicit-loop pooling + comparisons (incl.
    # the nearest-neighbor upscale for images smaller than the grid)
    def ref_dhash(a):
        a = a.astype(float)
        g = 8
        h, w = a.shape
        if h < g:
            a = np.repeat(a, -(-g // h), axis=0)
        if w < g + 1:
            a = np.repeat(a, -(-(g + 1) // w), axis=1)
        row_splits = np.array_split(a, g, axis=0)
        cells = [[float(np.mean(c)) for c in np.array_split(r, g + 1, axis=1)]
                 for r in row_splits]
        v = 0
        for r in range(g):
            for c in range(g):
                if cells[r][c + 1] > cells[r][c]:
                    v |= 1 << (r * g + c)
        return v - (1 << 64) if v >= 1 << 63 else v

    for a in arrays:
        assert mm.dhash_from_gray(a) == ref_dhash(a)

    # the distributed decode→hash chain reproduces the array-side hashes
    media = mm.synthetic_png_media(spark, n=12, seed=7)
    got = {r["media_id"]: r["dhash"]
           for r in mm.image_dhash(media).collect()}
    assert got == {i: ref_dhash(a) for i, a in enumerate(arrays)}


def test_dhash_small_images_no_forced_zero_bits():
    """Images smaller than the 8x9 pooling grid used to produce empty
    array_split groups (NaN means → forced-zero bits shared by unrelated
    tiny images). The nearest-neighbor upscale removes the degeneracy:
    a tiny image hashes identically to its explicitly np.repeat-upscaled
    self, and distinct random 4x4 images no longer cluster at tiny
    hamming distances."""
    import numpy as np

    from cnosdb_spark.operators import multimodal as mm

    rng = np.random.default_rng(5)
    tiny = [rng.integers(0, 256, size=(4, 4), dtype=np.uint8) for _ in range(8)]
    for a in tiny:
        up = np.repeat(np.repeat(a, 2, axis=0), 3, axis=1)  # 8 x 12
        assert mm.dhash_from_gray(a) == mm.dhash_from_gray(up)
    # distinct 4x4 randoms: 16 comparable cells after upscale → expect
    # hamming spread well above the old forced-zero floor
    hs = []
    for x in range(len(tiny)):
        for y in range(x + 1, len(tiny)):
            d = (mm.dhash_from_gray(tiny[x]) ^ mm.dhash_from_gray(tiny[y]))
            hs.append(bin(d & ((1 << 64) - 1)).count("1"))
    assert min(hs) > 0 and sum(hs) / len(hs) > 4

    import pytest as _pytest
    with _pytest.raises(ValueError):
        mm.dhash_from_gray(np.zeros((0, 5)))


def test_image_near_dup_pairs_finds_shifted_copies(spark):
    import numpy as np

    from cnosdb_spark.operators import multimodal as mm

    rng = np.random.default_rng(23)
    originals = [
        rng.integers(0, 200, size=(16, 20), dtype=np.uint8) for _ in range(10)
    ]
    rows = []
    for i, a in enumerate(originals):
        rows.append((i, "image", bytearray(mm.png_encode_gray(a)),
                     {"mime": "image/png", "width": 20, "height": 16,
                      "duration_ms": None}))
        # brightness shift preserves every pooled comparison → hamming 0
        rows.append((100 + i, "image",
                     bytearray(mm.png_encode_gray(a + 10)),
                     {"mime": "image/png", "width": 20, "height": 16,
                      "duration_ms": None}))
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in mm.image_near_dup_pairs(media, max_hamming=6).collect()}
    # reference: all-pairs hamming over the same dhashes
    fps = {i: mm.dhash_from_gray(a.astype(np.uint8)) for i, a in enumerate(originals)}
    fps.update({100 + i: mm.dhash_from_gray((a + 10).astype(np.uint8))
                for i, a in enumerate(originals)})
    want = {}
    ids = sorted(fps)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            h = bin((fps[ids[x]] ^ fps[ids[y]]) & ((1 << 64) - 1)).count("1")
            if h <= 6:
                want[(ids[x], ids[y])] = h
    assert pairs == want
    for i in range(10):
        assert pairs[(i, 100 + i)] == 0  # every shifted copy found exactly


def test_image_dhash_null_on_undecodable(spark):
    from cnosdb_spark.operators import multimodal as mm

    stub = mm.synthetic_media(spark, n=6, seed=42)  # opaque non-PNG bytes
    rows = mm.image_dhash(stub).collect()
    assert len(rows) == 6
    assert all(r["dhash"] is None for r in rows)


def test_audio_fingerprint_gain_invariance_and_pairs(spark):
    import numpy as np

    from cnosdb_spark.operators import multimodal as mm

    rng = np.random.default_rng(31)
    clips = [rng.standard_normal(800) * 0.3 for _ in range(8)]
    rows = []
    for i, c in enumerate(clips):
        rows.append((i, "audio", bytearray(mm.wav_encode_pcm(c)),
                     {"mime": "audio/wav", "width": None, "height": None,
                      "duration_ms": 50}))
        # half-gain copy: every band energy scales by 0.25 → same deltas
        rows.append((100 + i, "audio", bytearray(mm.wav_encode_pcm(c * 0.5)),
                     {"mime": "audio/wav", "width": None, "height": None,
                      "duration_ms": 50}))
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)

    fps = {r["media_id"]: r["afp"]
           for r in mm.audio_fingerprint(media).collect()}
    assert all(v is not None for v in fps.values())
    # decode chain == array-side fingerprints (quantization applied)
    for i, c in enumerate(clips):
        q = np.clip(np.floor(c * 32768.0 + 0.5), -32768, 32767) / 32768.0
        assert fps[i] == mm.audio_fingerprint_from_samples(q)

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in mm.audio_near_dup_pairs(media).collect()}
    for i in range(8):
        # gain-shifted copy within a couple bits (16-bit re-quantization
        # can flip a near-tied band delta, but never many)
        assert (i, 100 + i) in pairs and pairs[(i, 100 + i)] <= 2


def test_audio_fingerprint_null_on_non_wav(spark):
    from cnosdb_spark.operators import multimodal as mm

    stub = mm.synthetic_media(spark, n=3, seed=42)
    rows = mm.audio_fingerprint(stub).collect()
    assert all(r["afp"] is None for r in rows)


def test_fingerprint_near_dup_pairs_equals_bruteforce(spark):
    """Pigeonhole completeness of the generic banding: with max_hamming <
    bands, the banded candidate join must recover EXACTLY the brute-force
    all-pairs within the hamming budget — on clustered random fingerprints
    (planted near-dups by flipping <=3 bits) and across signed/unsigned
    64-bit territory."""
    import numpy as np

    rng = np.random.default_rng(41)
    fps = {}
    i = 0
    for _ in range(12):
        base = int(rng.integers(0, 1 << 64, dtype=np.uint64))
        fam = [base]
        for _ in range(2):  # two near copies, <=3 flipped bits
            v = base
            for b in rng.choice(64, size=int(rng.integers(0, 4)), replace=False):
                v ^= 1 << int(b)
            fam.append(v)
        for u in fam:
            fps[i] = u - (1 << 64) if u >= 1 << 63 else u
            i += 1
    df = spark.createDataFrame(
        [(k, v) for k, v in fps.items()], ["fid", "fp"]
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.fingerprint_near_dup_pairs(
               df, "fid", "fp", bits=64, bands=8, max_hamming=6
           ).collect()}
    want = {}
    ids = sorted(fps)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            h = bin((fps[ids[x]] ^ fps[ids[y]]) & ((1 << 64) - 1)).count("1")
            if h <= 6:
                want[(ids[x], ids[y])] = h
    assert got == want


def test_fingerprint_max_bucket_size_ceiling(spark):
    """Hot-bucket ceiling on the generic banding (the template-heavy
    degenerate case): the capped run drops exactly the pairs whose EVERY
    shared chunk bucket exceeds the cap, reproduced by an independent
    loop reference; pairs with any colder shared chunk survive, and
    fingerprint_band_stats reports the hot/kept bucket split."""
    from cnosdb_spark.operators import multimodal as mm

    tpl = mm.synthetic_template_png_media(spark)
    fps_df = mm.image_dhash(tpl).filter(F.col("dhash").isNotNull())
    fps = {r["media_id"]: r["dhash"] for r in fps_df.collect()}

    # independent loop reference over the same fingerprints
    from collections import Counter, defaultdict
    sizes: Counter = Counter()
    members = defaultdict(list)
    for i, fp in fps.items():
        u = fp & ((1 << 64) - 1)
        for b in range(4):
            key = (b, (u >> (b * 16)) & 0xFFFF)
            sizes[key] += 1
            members[key].append(i)

    def ref_pairs(cap):
        cand = set()
        for key, n in sizes.items():
            if n < 2 or (cap is not None and n > cap):
                continue
            ms = sorted(members[key])
            for x in range(len(ms)):
                for y in range(x + 1, len(ms)):
                    cand.add((ms[x], ms[y]))
        return {
            (a, b): h
            for a, b in cand
            if (h := bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")) <= 6
        }

    capped = {(r["id_a"], r["id_b"]): r["hamming"]
              for r in mm.image_near_dup_pairs(
                  tpl, bands=4, max_hamming=6, max_bucket_size=20).collect()}
    uncapped = {(r["id_a"], r["id_b"]): r["hamming"]
                for r in mm.image_near_dup_pairs(
                    tpl, bands=4, max_hamming=6).collect()}
    assert capped == ref_pairs(20)
    assert uncapped == ref_pairs(None)
    # the ceiling is ACTIVE: the hot template family's quadratic pair
    # expansion is suppressed, the under-cap family survives untouched
    assert len(uncapped) - len(capped) > 100
    assert all(a >= 200 for a, _ in capped)

    stats = {r["bucket"]: r["n"]
             for r in dedup.fingerprint_band_stats(
                 fps_df, "media_id", "dhash", bits=64, bands=4).collect()}
    assert stats == {f"{b}:{c}": n for (b, c), n in sizes.items() if n >= 2}
    assert sum(1 for n in stats.values() if n > 20) == 4


def test_minhash_lsh_hot_bucket_ceiling(spark):
    """max_bucket_size on the minhash paths: a hot cluster larger than
    the cap loses its pairs deterministically (every band bucket holds
    the whole cluster, all over-ceiling), an under-cap pair survives,
    and cap=None is byte-identical to the uncapped default."""
    hot = [(i, "the exact same boilerplate text repeated everywhere") for i in range(6)]
    cold = [(100, "one genuinely unique document about spark plans"),
            (101, "one genuinely unique document about spark plans")]
    docs = spark.createDataFrame(hot + cold, ["doc_id", "text"])

    uncapped = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(
        docs, "text", "doc_id").collect()}
    assert (100, 101) in uncapped and (0, 1) in uncapped

    capped = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", max_bucket_size=4).collect()}
    assert (100, 101) in capped          # under-cap bucket survives
    assert not {p for p in capped if p[0] < 100}  # 6-doc cluster dropped

    default = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", max_bucket_size=None).collect()}
    assert default == uncapped


def test_dedup_against_index_hot_bucket_ceiling(spark):
    """The same ceiling on the incremental check: over-cap INDEX buckets
    are anti-joined away (a new doc matching only a hot boilerplate
    bucket reports nothing), under-cap index matches and within-batch
    pairs keep working, and cap=None is unchanged."""
    corpus = spark.createDataFrame(
        [(i, "the exact same boilerplate text repeated everywhere") for i in range(6)]
        + [(50, "one genuinely unique document about spark plans")],
        ["doc_id", "text"],
    )
    index = dedup.minhash_band_table(corpus, "text", "doc_id")
    batch = spark.createDataFrame(
        [(200, "the exact same boilerplate text repeated everywhere"),
         (201, "one genuinely unique document about spark plans"),
         (202, "one genuinely unique document about spark plans")],
        ["doc_id", "text"],
    )
    capped = {(r.id_new, r.id_match, r.source) for r in dedup.dedup_against_index(
        batch, index, "text", "doc_id", max_bucket_size=4).collect()}
    assert (201, 50, "index") in capped and (202, 50, "index") in capped
    assert (201, 202, "batch") in capped
    assert not {t for t in capped if t[0] == 200}  # hot-bucket match dropped

    uncapped = {(r.id_new, r.id_match, r.source) for r in dedup.dedup_against_index(
        batch, index, "text", "doc_id").collect()}
    assert (200, 0, "index") in uncapped
