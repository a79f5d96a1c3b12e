"""Property-based tests for the round-5 operators: invariants that must
hold on ARBITRARY inputs, not just the curated fixtures — duplicate-span
geometry, salted-join equivalence, z-order row preservation, packing
conservation."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from cnosdb_spark.operators import curation, dedup, skew, zorder

from .conftest import fuzz_budget

_FUZZ = dict(
    **fuzz_budget(12),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# small token alphabet → collisions and duplicated spans are common
_word = st.sampled_from(["a", "b", "c", "dd", "eee", "f0"])
_doc = st.lists(_word, min_size=0, max_size=30).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=12)


@settings(**_FUZZ)
@given(texts=_corpus, k=st.integers(2, 4))
def test_duplicate_spans_geometry(spark, texts, k):
    """Spans lie inside their documents, never overlap after merging, are
    at least k wide, and keep_first leaves >= 1 occurrence of every
    duplicated window somewhere in the corpus."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    spans = dedup.duplicate_spans(docs, "text", "doc_id", k=k).collect()
    n_toks = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.when(F.trim("text") == "", 0)
            .otherwise(F.size(F.split(F.trim("text"), r"\s+")))
            .alias("n"),
        ).collect()
    }
    by_doc: dict[int, list] = {}
    for r in spans:
        assert 0 <= r["span_start"] < r["span_end"] <= n_toks[r["doc_id"]]
        assert r["span_end"] - r["span_start"] >= k
        by_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for doc_spans in by_doc.values():
        doc_spans.sort()
        for (s1, e1), (s2, e2) in zip(doc_spans, doc_spans[1:]):
            assert s2 > e1  # merged spans are disjoint AND non-adjacent

    # removal conserves tokens: removed + kept == original
    out = dedup.remove_duplicate_spans(docs, "text", "doc_id", k=k).collect()
    for r in out:
        kept = len(r["text"].split()) if r["text"].strip() else 0
        assert kept + r["n_tokens_removed"] == n_toks[r["doc_id"]]


@settings(**_FUZZ)
@given(
    keys=st.lists(st.integers(0, 3), min_size=1, max_size=40),
    n_salts=st.integers(2, 8),
    how=st.sampled_from(["inner", "left"]),
)
def test_salted_join_equivalence(spark, keys, n_salts, how):
    big = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], ["k", "payload"]
    )
    dim = spark.createDataFrame([(0, "x"), (2, "y")], ["k", "attr"])
    got = sorted(
        (r["k"], r["payload"], r["attr"])
        for r in skew.salted_join(big, dim, "k", n_salts=n_salts, how=how).collect()
    )
    want = sorted(
        (r["k"], r["payload"], r["attr"]) for r in big.join(dim, "k", how).collect()
    )
    assert got == want


@settings(**_FUZZ)
@given(
    xs=st.lists(st.integers(-1000, 1000), min_size=2, max_size=60),
    bits=st.integers(2, 8),
)
def test_zorder_preserves_multiset(spark, xs, bits):
    df = spark.createDataFrame(
        [(x, i % 7, i) for i, x in enumerate(xs)], ["x", "y", "payload"]
    )
    out = zorder.zorder_frame(df, ["x", "y"], n_partitions=3, bits=bits)
    assert sorted(r["payload"] for r in out.collect()) == sorted(range(len(xs)))


@settings(**_FUZZ)
@given(
    lens=st.lists(st.integers(1, 50), min_size=1, max_size=25),
    capacity=st.integers(8, 64),
)
def test_pack_chunks_conserves_tokens(spark, lens, capacity):
    """Every document's token mass lands in bins exactly once: the sum of
    slice_len over the manifest equals the corpus token total, and no
    bin exceeds capacity."""
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(lens)], ["doc_id", "n_tok"]
    )
    manifest = curation.pack_chunks(df, "n_tok", capacity, shards=2)
    rows = manifest.collect()
    assert sum(r["slice_len"] for r in rows) == sum(lens)
    fills: dict[tuple, int] = {}
    for r in rows:
        assert 0 < r["slice_len"] <= capacity
        fills[(r["shard"], r["bin"])] = fills.get((r["shard"], r["bin"]), 0) + r["slice_len"]
    assert all(v <= capacity for v in fills.values())


_ts = st.integers(0, 100)


@settings(**_FUZZ)
@given(
    left=st.lists(st.tuples(st.integers(0, 2), _ts), min_size=1, max_size=20),
    right=st.lists(st.tuples(st.integers(0, 2), _ts, st.floats(0, 100, allow_nan=False)), min_size=0, max_size=20),
)
def test_asof_join_invariants(spark, left, right):
    """As-of join on arbitrary data: left rows pass through exactly once,
    every match is the max right time <= left time for the key, and
    no-match rows carry NULLs."""
    from datetime import datetime, timedelta

    from cnosdb_spark.operators.temporal import asof_join

    B = datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(i, k, B + timedelta(seconds=t)) for i, (k, t) in enumerate(left)],
        ["lid", "k", "t"],
    )
    rdf = spark.createDataFrame(
        [(k, B + timedelta(seconds=t), v) for k, t, v in right],
        "k long, t timestamp, v double",
    )
    out = asof_join(ldf, rdf, key="k", left_time="t", right_time="t", value_cols=["v"]).collect()
    assert sorted(r["lid"] for r in out) == list(range(len(left)))  # bijection
    # oracle: max right-time match per left row, computed in python
    by_key: dict[int, list] = {}
    for k, t, v in right:
        by_key.setdefault(k, []).append((t, v))
    for r in out:
        k, lt = None, None
        k, lt = left[r["lid"]]
        cands = [(t, v) for t, v in by_key.get(k, []) if t <= lt]
        if not cands:
            assert r["v_right"] is None and r["t_right"] is None
        else:
            best_t = max(t for t, _ in cands)
            assert r["t_right"] == (datetime(2024, 1, 1) + __import__("datetime").timedelta(seconds=best_t))
            # equal-time duplicate right rows make the matched v ambiguous;
            # assert it belongs to the best-time candidate set
            assert r["v_right"] in {v for t, v in cands if t == best_t}


@settings(**_FUZZ)
@given(
    pts=st.lists(_ts, min_size=1, max_size=25),
    iv=st.lists(st.tuples(_ts, st.integers(1, 40)), min_size=1, max_size=8),
)
def test_interval_range_join_matches_python(spark, pts, iv):
    from datetime import datetime, timedelta

    from cnosdb_spark.operators.temporal import interval_range_join

    B = datetime(2024, 1, 1)
    pdf = spark.createDataFrame(
        [(i, B + timedelta(seconds=t)) for i, t in enumerate(pts)], ["pid", "t"]
    )
    idf = spark.createDataFrame(
        [(j, B + timedelta(seconds=s), B + timedelta(seconds=s + d)) for j, (s, d) in enumerate(iv)],
        ["iid", "s", "e"],
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_range_join(
            pdf, idf, point_time="t", start_col="s", end_col="e", bucket="1 minute"
        ).collect()
    }
    want = {
        (i, j)
        for i, t in enumerate(pts)
        for j, (s, d) in enumerate(iv)
        if s <= t < s + d
    }
    assert got == want


# ---------------------------------------------------------------------
# vendored PNG codec (multimodal.py): encode→decode identity over random
# images, and filtered scanlines (all 5 filter types, random per row)
# must reconstruct exactly for every supported color type
# ---------------------------------------------------------------------

@settings(**_FUZZ)
@given(
    data=st.data(),
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=7),
    color=st.sampled_from([0, 2, 4, 6]),
)
def test_png_codec_roundtrip_fuzz(data, w, h, color):
    import struct
    import zlib

    import numpy as np

    from cnosdb_spark.operators import multimodal as mm

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    px = np.array(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=w * h * ch,
                max_size=w * h * ch,
            )
        ),
        dtype=np.uint8,
    ).reshape(h, w, ch)
    filters = data.draw(
        st.lists(st.integers(min_value=0, max_value=4), min_size=h, max_size=h)
    )

    # independently implemented filter pass (same as the spec's encoder)
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

    def chunk(ctype, d):
        return (
            struct.pack(">I", len(d)) + ctype + d
            + struct.pack(">I", zlib.crc32(ctype + d) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    got = mm.png_decode_gray(png)
    if color in (0, 4):
        want = px[:, :, 0]
    else:
        rgb = px[:, :, :3].astype(np.uint32)
        want = ((rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000).astype(np.uint8)
    assert np.array_equal(got, want)
    # grayscale also round-trips through our own encoder
    if color == 0:
        assert np.array_equal(mm.png_decode_gray(mm.png_encode_gray(px[:, :, 0])), px[:, :, 0])


@settings(**_FUZZ)
@given(
    data=st.data(),
    n=st.integers(min_value=1, max_value=300),
    ch=st.integers(min_value=1, max_value=3),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_codec_roundtrip_fuzz(data, n, ch, rate):
    """Property: for every int16 sample array (any length, channel count,
    rate), wav_encode_pcm → wav_decode_pcm returns exactly samples/32768
    with the right shape."""
    import numpy as np

    from cnosdb_spark.operators import multimodal as mm

    samples = np.array(
        data.draw(
            st.lists(
                st.integers(min_value=-32768, max_value=32767),
                min_size=n * ch,
                max_size=n * ch,
            )
        ),
        dtype=np.int16,
    ).reshape(n, ch)
    if ch == 1:
        samples = samples[:, 0]
    got = mm.wav_decode_pcm(mm.wav_encode_pcm(samples, rate=rate))
    assert got.shape == samples.shape
    assert np.array_equal(got, samples.astype(np.float64) / 32768.0)


# ----------------------------------------------------- line-protocol fuzz
def _lp_escape_key(s: str) -> str:
    return s.replace(",", r"\,").replace("=", r"\=").replace(" ", r"\ ")


_LP_KEY = st.text(
    alphabet=st.characters(
        codec="ascii", min_codepoint=33, max_codepoint=126,
        exclude_characters='\\"',
    ),
    min_size=1,
    max_size=8,
)
_LP_FIELD_VAL = st.one_of(
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.booleans(),
    st.text(
        alphabet=st.characters(codec="ascii", min_codepoint=32,
                               max_codepoint=126, exclude_characters='"\\'),
        max_size=12,
    ),
)


@settings(**_FUZZ)
@given(
    tags=st.dictionaries(_LP_KEY, _LP_KEY, min_size=0, max_size=3),
    fields=st.dictionaries(_LP_KEY, _LP_FIELD_VAL, min_size=1, max_size=4),
    ts_ns=st.integers(min_value=0, max_value=2**55),
)
def test_fuzz_line_protocol_roundtrip(tags, fields, ts_ns):
    """Format → parse is the identity on arbitrary escaped keys/values —
    the schemaless write path's first line of defense (reference
    common/protocol_parser line_protocol escaping rules)."""
    from cnosdb_spark.sources.line_protocol import parse_lines_meta

    # field keys must not collide with tag keys or 'time' in the row dict
    fields = {k: v for k, v in fields.items() if k not in tags and k != "time"}
    tags = {k: v for k, v in tags.items() if k != "time"}
    if not fields:
        fields = {"v": 1.0}

    head = "m" + ("," if tags else "") + ",".join(
        f"{_lp_escape_key(k)}={_lp_escape_key(v)}" for k, v in sorted(tags.items())
    )
    parts = []
    for k, v in sorted(fields.items()):
        if isinstance(v, bool):
            s = "true" if v else "false"
        elif isinstance(v, int):
            s = f"{v}i"
        elif isinstance(v, float):
            s = repr(v)
        else:
            s = '"' + v.replace('"', '\\"') + '"'
        parts.append(f"{_lp_escape_key(k)}={s}")
    line = f"{head} {','.join(parts)} {ts_ns}"

    parsed = parse_lines_meta(line)
    assert set(parsed) == {"m"}
    rows, tagkeys = parsed["m"]
    assert len(rows) == 1
    row = dict(rows[0])
    t = row.pop("time")
    row.pop("_ns_res", None)
    assert tagkeys == set(tags)
    from datetime import datetime, timedelta

    assert t == datetime(1970, 1, 1) + timedelta(microseconds=ts_ns // 1000)
    want = dict(tags)
    for k, v in fields.items():
        want[k] = float(v) if isinstance(v, float) else v
    assert row == want


# ------------------------------------------------------ json-flatten fuzz
_JSON_SCALAR = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=10),
)
_JSON_VALUE = st.recursive(
    _JSON_SCALAR,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(
            st.text(
                alphabet=st.characters(codec="ascii", min_codepoint=33,
                                       max_codepoint=126,
                                       exclude_characters="."),
                min_size=1, max_size=6,
            ),
            children,
            max_size=4,
        ),
    ),
    max_leaves=12,
)


@settings(**_FUZZ)
@given(obj=st.dictionaries(
    st.text(alphabet=st.characters(codec="ascii", min_codepoint=33,
                                   max_codepoint=126, exclude_characters="."),
            min_size=1, max_size=6),
    _JSON_VALUE, min_size=0, max_size=4,
))
def test_fuzz_flatten_json_total_and_faithful(obj):
    """flatten_json must be total on arbitrary JSON (no crash), produce
    only scalar leaves, and preserve every scalar reachable in the input
    — addressed by its dotted path (reference parser.rs:71-103 array
    flatten-by-index)."""
    from cnosdb_spark.sources.json_protocol import flatten_json

    flat = flatten_json("", obj)
    for v in flat.values():
        assert v is None or isinstance(v, (bool, int, float, str))

    def walk(name, value, out):
        if isinstance(value, dict):
            for k, v in value.items():
                walk(k if not name else f"{name}.{k}", v, out)
        elif isinstance(value, list):
            for idx, v in enumerate(value):
                walk(f"{name}.{idx}" if name else str(idx), v, out)
        else:
            out[name] = value

    want: dict = {}
    walk("", obj, want)
    assert flat == want


@settings(**_FUZZ)
@given(
    metric=st.text(alphabet=st.characters(codec="ascii", min_codepoint=33,
                                          max_codepoint=126,
                                          exclude_characters="= "),
                   min_size=1, max_size=8),
    tags=st.dictionaries(
        st.text(alphabet=st.characters(codec="ascii", min_codepoint=33,
                                       max_codepoint=126,
                                       exclude_characters="= "),
                min_size=1, max_size=6),
        st.text(alphabet=st.characters(codec="ascii", min_codepoint=33,
                                       max_codepoint=126,
                                       exclude_characters="= "),
                min_size=1, max_size=6),
        min_size=1, max_size=3,
    ),
    value=st.floats(allow_nan=False, allow_infinity=False, width=32),
    ts_us=st.integers(min_value=10**14, max_value=10**17 - 1),
)
def test_fuzz_open_tsdb_telnet_roundtrip(metric, tags, value, ts_us):
    """put-line format → parse is the identity (µs-magnitude timestamps
    ride the heuristic losslessly; OpenTSDB has no escaping, so tokens
    simply exclude '=' and spaces)."""
    from datetime import datetime, timedelta

    from cnosdb_spark.sources.open_tsdb import parse_open_tsdb_tcp

    line = f"put {metric} {ts_us} {value!r} " + " ".join(
        f"{k}={v}" for k, v in sorted(tags.items())
    )
    out = parse_open_tsdb_tcp(line)
    assert set(out) == {metric}
    rows, tagkeys = out[metric]
    assert len(rows) == 1 and tagkeys == set(tags)
    row = dict(rows[0])
    assert row.pop("time") == datetime(1970, 1, 1) + timedelta(microseconds=ts_us)
    assert row.pop("value") == float(value)
    assert row == tags


# ------------------------------------- distributed bulk-ingest fuzz (r8)
_BULK_MEAS = st.sampled_from(["m1", "m2", "m3"])
_BULK_KEY = st.sampled_from(["k1", "k2", "k3", "k4"])
_BULK_VAL = st.one_of(
    st.booleans(),
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.sampled_from(["aa", "bb", "x y"]),
)
_BULK_LINE = st.tuples(
    _BULK_MEAS,
    # tags: a subset of the same key pool the fields draw from, so
    # tag/field role conflicts are COMMON, not incidental
    st.dictionaries(_BULK_KEY, st.sampled_from(["t1", "t2"]), max_size=2),
    st.dictionaries(_BULK_KEY, _BULK_VAL, min_size=1, max_size=3),
)


@settings(**_FUZZ)
@given(lines=st.lists(_BULK_LINE, min_size=1, max_size=10),
       nparts=st.integers(1, 4))
def test_fuzz_lines_to_tables_distributed_conflicts(spark, lines, nparts):
    """Adversarial ingest fuzz: mixed measurements with the same key
    appearing as bool/int/float/str AND as tag-vs-field between lines.
    The driver path (one request body) and the distributed single-pass
    path (arbitrary partitionings) must both resolve widest-wins /
    tag-wins deterministically and coerce every stored value per the
    documented rules — checked against an independent pure-Python
    reference that shares only the single-line parser."""
    from cnosdb_spark.sources.line_protocol import (
        lines_to_tables,
        lines_to_tables_single_pass,
        parse_lines_meta,
    )

    _KORDER = {"bool": 0, "int": 1, "float": 2, "str": 3}

    def fmt_val(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return f"{v}i"
        if isinstance(v, float):
            return repr(v)
        return '"' + v + '"'

    text = []
    for i, (m, tags, fields) in enumerate(lines):
        fields = {k: v for k, v in fields.items() if k not in tags}
        if not fields:
            fields = {"vv": 1.0}
        head = m + ("," if tags else "") + ",".join(
            f"{k}={v}" for k, v in sorted(tags.items())
        )
        body = ",".join(f"{k}={fmt_val(v)}" for k, v in sorted(fields.items()))
        text.append(f"{head} {body} {1_700_000_000_000_000_000 + i * 1_000_000_000}")

    # pure-python reference: parse each line with the shared single-line
    # parser, then fold the documented widest-wins / tag-wins resolution
    # and coercion rules independently of the engine code
    parsed = []  # (m, row_dict, tagkeys)
    for ln in text:
        for m, (rows, tagkeys) in parse_lines_meta(ln, "ns").items():
            for r in rows:
                parsed.append((m, dict(r), set(tagkeys)))
    resolved: dict = {}  # m -> {key: (is_tag, kind)}
    for m, row, tagkeys in parsed:
        keys = resolved.setdefault(m, {})
        for k, v in row.items():
            if k == "time":
                continue
            kind = ("bool" if isinstance(v, bool) else
                    "int" if isinstance(v, int) else
                    "float" if isinstance(v, float) else "str")
            is_tag = k in tagkeys
            prev = keys.get(k)
            if prev is not None:
                kind = max(prev[1], kind, key=_KORDER.get)
                is_tag = prev[0] or is_tag
            if is_tag:
                kind = "str"
            keys[k] = (is_tag, kind)

    def coerce(v, kind):
        if v is None:
            return None
        if isinstance(v, bool):
            return {"bool": v, "int": int(v), "float": float(v),
                    "str": "true" if v else "false"}[kind]
        if kind == "float" and isinstance(v, int):
            return float(v)
        if kind == "str" and not isinstance(v, str):
            return str(v)
        return v

    want: dict = {}
    for m, row, _tk in parsed:
        keys = resolved[m]
        tagk = sorted(k for k, (t, _) in keys.items() if t)
        fldk = sorted(k for k, (t, _) in keys.items() if not t)
        tup = tuple([row["time"]] + [
            coerce(row.get(k), keys[k][1]) for k in tagk + fldk
        ])
        want.setdefault(m, []).append(tup)

    lines_df = spark.createDataFrame(
        [(ln,) for ln in text], ["value"]
    ).repartition(nparts)
    for label, tables in (
        ("driver", lines_to_tables(spark, "\n".join(text))),
        ("single_pass", lines_to_tables_single_pass(spark, lines_df)),
    ):
        assert set(tables) == set(want), label
        for m in want:
            df, tags_out = tables[m]
            assert tags_out == {k for k, (t, _) in resolved[m].items() if t}, label
            a = sorted(tuple(r) for r in df.collect())
            assert a == sorted(want[m]), f"{label} measurement {m}"


# ---------------------------------------------------------------------
# round-9 fuzzers for the graduated operators
# ---------------------------------------------------------------------

def _lttb_scalar_reference(t, v, n_out):
    """Independent scalar-loop LTTB (no numpy vector ops): same bucket
    bounds, same triangle-area expression, first-max selection. On
    INTEGER-valued inputs every intermediate is exact in float64 (sums
    < 2^53; identical operand values -> identical IEEE results), so the
    kernel and this loop must agree index-for-index — no tie ambiguity."""
    n = len(t)
    if n_out >= n or n_out < 3:
        return list(range(n))
    import numpy as np

    bounds = np.linspace(1, n - 1, n_out - 1).astype(int).tolist()
    kept = [0]
    a = 0
    for i in range(n_out - 2):
        lo, hi = bounds[i], bounds[i + 1]
        nlo = hi
        nhi = n - 1 if i == n_out - 3 else bounds[i + 2]
        if nhi > nlo:
            avg_t = sum(float(x) for x in t[nlo:nhi]) / (nhi - nlo)
            avg_v = sum(float(x) for x in v[nlo:nhi]) / (nhi - nlo)
        else:
            avg_t, avg_v = float(t[n - 1]), float(v[n - 1])
        at, av = float(t[a]), float(v[a])
        best, best_area = lo, -1.0
        for j in range(lo, hi):
            area = abs(
                (at - avg_t) * (float(v[j]) - av)
                - (at - float(t[j])) * (avg_v - av)
            )
            if area > best_area:
                best, best_area = j, area
        a = best
        kept.append(a)
    kept.append(n - 1)
    return kept


@settings(**fuzz_budget(200), deadline=None)
@given(
    deltas=st.lists(st.integers(1, 9), min_size=2, max_size=60),
    vals=st.lists(st.integers(-50, 50), min_size=2, max_size=60),
    n_out=st.integers(3, 8),
)
def test_lttb_kernel_matches_scalar_reference(deltas, vals, n_out):
    """The vectorized LTTB kernel (downsample._lttb_numpy: lexsort-free
    argmax over a numpy area vector) must agree index-for-index with the
    independent scalar loop on arbitrary integer series — pure-numpy
    differential, no Spark."""
    import numpy as np

    from cnosdb_spark.operators.downsample import _lttb_numpy

    n = min(len(deltas), len(vals))
    t = np.cumsum(np.array(deltas[:n], dtype=np.int64))  # strictly increasing
    v = np.array(vals[:n], dtype=np.int64)
    got = list(_lttb_numpy(t.astype(np.float64), v.astype(np.float64), n_out))
    want = _lttb_scalar_reference(t.tolist(), v.tolist(), n_out)
    assert got == want


@settings(**_FUZZ)
@given(
    series=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-100, 100)),
        min_size=3,
        max_size=50,
    ),
)
def test_mad_anomalies_matches_numpy(spark, series):
    """mad_anomalies on arbitrary INTEGER series must match a numpy
    replay exactly: Spark's percentile() is the same linear-interpolated
    exact percentile as np.percentile, and on integer inputs every
    median/deviation is exact in float64, so scores AND flags are
    bit-identical (no threshold-adjacent ambiguity)."""
    import numpy as np

    from cnosdb_spark.operators.anomaly import mad_anomalies

    df = spark.createDataFrame(
        [(k, i, float(x)) for i, (k, x) in enumerate(series)],
        ["k", "i", "value"],
    )
    got = {
        (r["k"], r["i"]): (r["mad_score"], r["is_anomaly"])
        for r in mad_anomalies(df, "value", ["k"], threshold=3.5).collect()
    }
    by_key: dict[int, list] = {}
    for i, (k, x) in enumerate(series):
        by_key.setdefault(k, []).append((i, float(x)))
    for k, rows in by_key.items():
        vals = np.array([x for _, x in rows])
        med = float(np.percentile(vals, 50))
        mad = float(np.percentile(np.abs(vals - med), 50))
        for i, x in rows:
            if mad > 0:
                score = abs(x - med) / (1.4826 * mad)
                assert got[(k, i)] == (round(score, 6), score >= 3.5), (k, i)
            else:
                assert got[(k, i)] == (None, False), (k, i)


_LM_TOKS = (
    "string_split_regex(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
)
_LM_DT = f"""
    doc_terms AS (
        SELECT doc_id AS _doc, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest({_LM_TOKS}) AS term
              FROM documents WHERE trim(text) <> '')
        GROUP BY doc_id, term)
"""


@settings(**_FUZZ)
@given(texts=_corpus)
def test_bm25_and_unigram_lm_fuzz_vs_duckdb(spark, texts):
    """The fixed-corpus BM25/unigram-LM oracles (test_scoring_sampling,
    and since round 9 the scoring_sampling driver arms) replayed on
    ARBITRARY corpora: tiny-alphabet docs maximize term collisions, df
    saturation, and empty-doc edges. Same SQL templates, DuckDB over the
    exact same rows."""
    import duckdb
    import math

    from cnosdb_spark.operators import scoring

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    con = duckdb.connect()
    try:
        con.register(
            "documents",
            __import__("pandas").DataFrame(
                {"doc_id": range(len(texts)), "text": texts}
            ),
        )
        terms = ["a", "dd"]
        got = {
            r["doc_id"]: r["bm25"]
            for r in scoring.bm25_scores(docs, terms).collect()
        }
        want = dict(
            con.execute(
                f"""
            WITH {_LM_DT},
            qt AS (SELECT * FROM doc_terms WHERE term IN ('a', 'dd')),
            lens AS (SELECT doc_id AS _doc,
                       CAST(CASE WHEN trim(text) = '' THEN 0
                                 ELSE len({_LM_TOKS}) END AS DOUBLE) AS dl
                     FROM documents),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS _n FROM documents),
            avgdl AS (SELECT avg(dl) AS _avgdl FROM lens),
            dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                    FROM qt GROUP BY term),
            scored AS (
              SELECT qt._doc,
                     ln(1 + (_n - df + 0.5) / (df + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / _avgdl)) AS _s
              FROM qt JOIN dfq ON qt.term = dfq.term
                      JOIN lens ON qt._doc = lens._doc
              CROSS JOIN nn CROSS JOIN avgdl)
            SELECT _doc, round(sum(_s), 6) FROM scored GROUP BY _doc
            """
            ).fetchall()
        )
        assert got == want

        lm = {
            r["doc_id"]: (r["n_tokens"], r["lm_logprob"])
            for r in scoring.unigram_lm_scores(docs, add_k=0.5).collect()
        }
        lm_want = {
            d: (n, lp)
            for d, n, lp in con.execute(
                f"""
            WITH {_LM_DT},
            counts AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cw
                       FROM doc_terms GROUP BY term),
            tot AS (SELECT CAST(sum(cw) AS BIGINT) AS _t,
                           CAST(count(*) AS BIGINT) AS _v FROM counts),
            scored AS (
              SELECT _doc, tf, tf * log10((cw + 0.5) / (_t + 0.5 * _v)) AS _lp
              FROM doc_terms JOIN counts ON doc_terms.term = counts.term
              CROSS JOIN tot),
            per_doc AS (
              SELECT _doc, CAST(sum(tf) AS BIGINT) AS n_tokens,
                     sum(_lp) AS _lp_sum
              FROM scored GROUP BY _doc)
            SELECT d.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT),
                   round(p._lp_sum / p.n_tokens, 6)
            FROM documents d LEFT JOIN per_doc p ON d.doc_id = p._doc
            """
            ).fetchall()
        }
        for d in lm_want:
            gn, gl = lm[d]
            wn, wl = lm_want[d]
            assert gn == wn, (d, gn, wn)
            if wl is None or (isinstance(wl, float) and math.isnan(wl)):
                assert gl is None, (d, gl, wl)
            else:
                assert gl == wl, (d, gl, wl)
    finally:
        con.close()


_line = st.lists(_word, min_size=0, max_size=5).map(" ".join)
_ml_doc = st.lists(
    st.tuples(st.sampled_from(["\n", "\n\n", " "]), _line),
    min_size=1,
    max_size=7,
).map(lambda parts: "".join(s + l for s, l in parts))


@settings(**_FUZZ)
@given(texts=st.lists(_ml_doc, min_size=1, max_size=8))
def test_repetition_stats_fuzz_vs_duckdb(spark, texts):
    """The pipeline_curation rep arm's SQL replay on ARBITRARY multiline
    docs: tiny-alphabet lines maximize duplicate lines/paragraphs, blank
    segments, and whitespace-only edge cases. Exact equality on the four
    scaled-int-packed ratios (the arm's own representation)."""
    import duckdb
    import pandas as pd

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    reps = curation.repetition_stats(docs, "text")
    e6 = lambda c: F.floor(F.col(c) * 1000000 + 0.5)  # noqa: E731
    got = {
        r["doc_id"]: (r["v1"], r["v2"])
        for r in reps.select(
            "doc_id",
            (e6("dup_line_frac") * 10000000 + e6("dup_line_char_frac"))
            .cast("long")
            .alias("v1"),
            (e6("dup_para_frac") * 10000000 + e6("dup_para_char_frac"))
            .cast("long")
            .alias("v2"),
        ).collect()
    }
    con = duckdb.connect()
    try:
        con.register(
            "documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
        want = {
            r[0]: (r[1], r[2])
            for r in con.execute(
                r"""
            WITH seg AS (
              SELECT doc_id,
                list_filter(list_transform(string_split_regex(text, '\n'),
                                           x -> trim(x)), x -> x <> '') AS ls,
                list_filter(list_transform(string_split_regex(text, '\n{2,}'),
                                           x -> trim(x)), x -> x <> '') AS ps
              FROM documents),
            fr AS (
              SELECT doc_id,
                CASE WHEN len(ls) > 0
                     THEN (len(ls) - len(list_distinct(ls))) * 1.0 / len(ls)
                     ELSE 0.0 END AS dlf,
                CASE WHEN coalesce(list_sum(list_transform(ls, x -> length(x))), 0) > 0
                     THEN (list_sum(list_transform(ls, x -> length(x)))
                           - list_sum(list_transform(list_distinct(ls), x -> length(x))))
                          * 1.0 / list_sum(list_transform(ls, x -> length(x)))
                     ELSE 0.0 END AS dlcf,
                CASE WHEN len(ps) > 0
                     THEN (len(ps) - len(list_distinct(ps))) * 1.0 / len(ps)
                     ELSE 0.0 END AS dpf,
                CASE WHEN coalesce(list_sum(list_transform(ps, x -> length(x))), 0) > 0
                     THEN (list_sum(list_transform(ps, x -> length(x)))
                           - list_sum(list_transform(list_distinct(ps), x -> length(x))))
                          * 1.0 / list_sum(list_transform(ps, x -> length(x)))
                     ELSE 0.0 END AS dpcf
              FROM seg)
            SELECT doc_id,
                   CAST(floor(dlf * 1000000 + 0.5) * 10000000
                        + floor(dlcf * 1000000 + 0.5) AS BIGINT),
                   CAST(floor(dpf * 1000000 + 0.5) * 10000000
                        + floor(dpcf * 1000000 + 0.5) AS BIGINT)
            FROM fr
            """
            ).fetchall()
        }
        assert got == want
    finally:
        con.close()


_PII_FRAG = st.sampled_from([
    "hello", "world", "a@b", "u1@example.com", "x.y@mail-host.org",
    "10.0.0.1", "255.255.255.255", "1.2.3", "999.999.999.999",
    "+1 (555) 010-1234", "5551234", "+44 20 7946 0958", "(1)2-3",
    "12345678901", "v1.2.3.4-rc", "no-reply@a.co.uk", "..", "@",
])


@settings(**_FUZZ)
@given(frags=st.lists(_PII_FRAG, min_size=0, max_size=10))
def test_redact_pii_fuzz_vs_duckdb(spark, frags):
    """The pipeline_curation pii arm cross-engine on adversarial
    near-matches (broken emails, out-of-range IPs, version strings,
    short digit runs): Java regex and RE2 must agree on the three
    progressive counts AND the byte-exact redacted text."""
    import duckdb
    import pandas as pd

    text = " ".join(frags)
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    r = curation.redact_pii(docs, "text").collect()[0]
    got = (r["n_email"], r["n_ip"], r["n_phone"], r["text_redacted"])
    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame({"doc_id": [0], "text": [text]}))
        w = con.execute(
            r"""
        WITH r1 AS (SELECT
              CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS ne,
              regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                '<EMAIL>', 'g') AS t1
            FROM documents),
        r2 AS (SELECT ne,
              CAST(len(regexp_extract_all(t1,
                '\b(\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS ni,
              regexp_replace(t1, '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
            FROM r1)
        SELECT ne, ni,
               CAST(len(regexp_extract_all(t2,
                 '\+?\d[\d\s().-]{7,}\d\b')) AS BIGINT),
               regexp_replace(t2, '\+?\d[\d\s().-]{7,}\d\b', '<PHONE>', 'g')
        FROM r2
        """
        ).fetchone()
        assert got == tuple(w), (text, got, tuple(w))
    finally:
        con.close()


@settings(**_FUZZ)
@given(texts=st.lists(_doc, min_size=1, max_size=10), n=st.integers(2, 3))
def test_decontaminate_fuzz_vs_duckdb(spark, texts, n):
    """The pipeline_curation decon arm's shingle replay on ARBITRARY
    corpora and n-gram widths: short docs exercise the whole-text
    shingle branch, the tiny alphabet exercises bench-set collisions.
    The benchmark is every 3rd doc — matched-count equality per doc."""
    import duckdb
    import pandas as pd

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    bench = docs.filter(F.col("doc_id") % 3 == 0).select("text")
    got = {
        r["doc_id"]: r["matched_ngrams"]
        for r in curation.decontaminate(docs, bench, "text", "doc_id", n=n).collect()
    }
    con = duckdb.connect()
    try:
        con.register(
            "documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
        want = {
            r[0]: r[1]
            for r in con.execute(
                rf"""
            WITH toks AS (SELECT doc_id,
                string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
              FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(
                     CASE WHEN len(tk) < {n} THEN [array_to_string(tk, ' ')]
                          ELSE [array_to_string(tk[i+1:i+{n}], ' ')
                                FOR i IN generate_series(0, len(tk)-{n})] END)) AS g
                   FROM toks),
            bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 3 = 0),
            m AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS mn
                  FROM sh JOIN bench USING (g) GROUP BY sh.doc_id)
            SELECT d.doc_id, coalesce(m.mn, 0)
            FROM documents d LEFT JOIN m USING (doc_id)
            """
            ).fetchall()
        }
        assert got == want
    finally:
        con.close()


@settings(**_FUZZ)
@given(texts=st.lists(_ml_doc, min_size=1, max_size=8))
def test_strip_boilerplate_fuzz_vs_duckdb(spark, texts):
    """The pipeline_curation bp arm replay on ARBITRARY multi-paragraph
    corpora: tiny-alphabet paragraphs collide across docs constantly, so
    the >=2-docs boilerplate threshold, the within-doc-repeat exemption,
    and the position-ordered reassembly all fire. Byte-exact text_clean
    plus both counts."""
    import duckdb
    import pandas as pd

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_paras_kept"], r["n_paras_total"], r["text_clean"])
        for r in curation.strip_boilerplate(docs, "text", "doc_id", min_docs=2).collect()
    }
    con = duckdb.connect()
    try:
        con.register(
            "documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
        want = {
            r[0]: (r[1], r[2], r[3])
            for r in con.execute(
                r"""
            WITH pl AS (SELECT doc_id,
                list_filter(list_transform(string_split_regex(text, '\n{2,}'),
                                           x -> trim(x)), x -> x <> '') AS parts
              FROM documents),
            ph AS (SELECT doc_id, unnest(list_transform(parts,
                     p -> md5(trim(regexp_replace(lower(p), '\s+', ' ', 'g'))))) AS h
                   FROM pl),
            bpset AS (SELECT h FROM ph GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
            bl AS (SELECT coalesce(list(h), []) AS hs FROM bpset),
            kept AS (SELECT doc_id,
                list_filter(parts, p -> NOT list_contains(hs,
                    md5(trim(regexp_replace(lower(p), '\s+', ' ', 'g'))))) AS keeps,
                len(parts) AS ntot
              FROM pl CROSS JOIN bl)
            SELECT doc_id, CAST(len(keeps) AS BIGINT), CAST(ntot AS BIGINT),
                   coalesce(array_to_string(keeps, chr(10) || chr(10)), '')
            FROM kept
            """
            ).fetchall()
        }
        assert got == want
    finally:
        con.close()


@settings(**_FUZZ)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s0", "s1", "s2"]), st.integers(1, 50)),
        min_size=1,
        max_size=20,
    ),
    budget=st.integers(1, 300),
)
def test_mixture_sample_fuzz_vs_duckdb(spark, rows, budget):
    """The scoring_sampling mix arm replay on ARBITRARY stratum/token
    shapes: random budgets drive rates through the cap-at-1 branch and
    deep fractions; the md5 keep arithmetic must agree row-for-row."""
    import duckdb
    import pandas as pd

    data = [(i, s, t) for i, (s, t) in enumerate(rows)]
    docs = spark.createDataFrame(data, ["doc_id", "source", "n_tok"])
    weights = {"s0": 0.5, "s2": 0.5}
    got = {
        r["doc_id"]
        for r in curation.mixture_sample(
            docs, "source", weights, budget_tokens=budget,
            token_col="n_tok", salt="mix",
        ).collect()
    }
    con = duckdb.connect()
    try:
        con.register(
            "documents",
            pd.DataFrame(data, columns=["doc_id", "source", "n_tok"]),
        )
        want = {
            r[0]
            for r in con.execute(
                f"""
            WITH st AS (SELECT source, CAST(sum(n_tok) AS DOUBLE) AS stoks
                        FROM documents GROUP BY source),
            rt AS (SELECT source,
                          least(1.0, (CASE source WHEN 's0' THEN 0.5
                                                  WHEN 's2' THEN 0.5
                                                  ELSE 0.0 END) * {budget} / stoks) AS rate
                   FROM st WHERE stoks > 0)
            SELECT d.doc_id FROM documents d JOIN rt ON d.source = rt.source
            WHERE (('0x' || substring(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
                   / 4294967296.0) < rate
            """
            ).fetchall()
        }
        assert got == want
    finally:
        con.close()


@settings(**_FUZZ)
@given(
    n_docs=st.integers(1, 25),
    weights=st.lists(st.integers(1, 9), min_size=1, max_size=4),
)
def test_split_dataset_fuzz_vs_duckdb(spark, n_docs, weights):
    """The scoring_sampling split arm replay on ARBITRARY weight vectors:
    random unnormalized weights drive the cumulative-boundary arithmetic
    (including a single-split degenerate case where everything lands in
    the last bucket); the md5-fraction bucketing must agree row-for-row."""
    import duckdb
    import pandas as pd

    names = [f"sp{i}" for i in range(len(weights))]
    wmap = dict(zip(names, [float(w) for w in weights]))
    docs = spark.createDataFrame([(i,) for i in range(n_docs)], ["doc_id"])
    got = {
        r["doc_id"]: r["split"]
        for r in curation.split_dataset(docs, "doc_id", wmap, salt="split").collect()
    }
    total = sum(weights)
    cum, bounds = 0.0, []
    for nm, w in zip(names[:-1], weights[:-1]):
        cum += w / total
        bounds.append((nm, cum))
    case = " ".join(
        f"WHEN frac < {c!r} THEN '{nm}'" for nm, c in bounds
    )
    expr = f"CASE {case} ELSE '{names[-1]}' END" if bounds else f"'{names[-1]}'"
    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame({"doc_id": range(n_docs)}))
        want = {
            r[0]: r[1]
            for r in con.execute(
                f"""
            WITH fr AS (SELECT doc_id,
                (('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                 / 4294967296.0) AS frac
              FROM documents)
            SELECT doc_id, {expr} FROM fr
            """
            ).fetchall()
        }
        assert got == want
    finally:
        con.close()


@settings(**_FUZZ)
@given(
    toks=st.lists(st.integers(0, 40), min_size=1, max_size=25),
    capacity=st.integers(1, 16),
    shards=st.sampled_from([1, 2, 4]),
)
def test_pack_sequences_fuzz_vs_duckdb(spark, toks, capacity, shards):
    """The scoring_sampling pack arm replay on ARBITRARY token shapes:
    zero-token docs must vanish, capacity-aligned docs exercise the
    closed-bin boundary (seq_start + tok == bin edge), and the per-shard
    hash-ordered running offset must agree with the window replay exactly."""
    import duckdb
    import pandas as pd

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], ["doc_id", "n_tok"]
    )
    got = {
        r["doc_id"]: (r["shard"], r["seq_start"], r["first_bin"], r["last_bin"], r["n_bins"])
        for r in curation.pack_sequences(
            docs, "n_tok", capacity, "doc_id", shards=shards, salt="pack"
        ).collect()
    }
    con = duckdb.connect()
    try:
        con.register(
            "documents",
            pd.DataFrame({"doc_id": range(len(toks)), "n_tok": toks}),
        )
        want = {
            r[0]: (r[1], r[2], r[3], r[4], r[5])
            for r in con.execute(
                f"""
            WITH d AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS t,
                              md5('pack|' || CAST(doc_id AS VARCHAR)) AS h
                       FROM documents WHERE n_tok > 0),
            s AS (SELECT *, CAST(('0x' || substr(h, 1, 4))::UBIGINT % {shards} AS INT) AS shard
                  FROM d),
            o AS (SELECT *, coalesce(sum(t) OVER (PARTITION BY shard ORDER BY h, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seq_start
                  FROM s)
            SELECT doc_id, shard, seq_start,
                   seq_start // {capacity} AS first_bin,
                   (seq_start + t - 1) // {capacity} AS last_bin,
                   (seq_start + t - 1) // {capacity} - seq_start // {capacity} + 1 AS n_bins
            FROM o
            """
            ).fetchall()
        }
        assert got == want
    finally:
        con.close()


@settings(**_FUZZ)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s0", "s1"]), st.integers(0, 5)),
        min_size=1,
        max_size=20,
    ),
    k=st.integers(1, 4),
)
def test_cap_per_stratum_fuzz_vs_duckdb(spark, rows, k):
    """The scoring_sampling cap arm replay on ARBITRARY stratum/score
    shapes: the tiny score range forces constant ties, so the id-asc
    tie-break is what the equality actually exercises."""
    import duckdb
    import pandas as pd

    data = [(i, s, sc) for i, (s, sc) in enumerate(rows)]
    docs = spark.createDataFrame(data, ["doc_id", "source", "score"])
    got = {
        r["doc_id"]
        for r in curation.cap_per_stratum(docs, "source", "score", k, "doc_id").collect()
    }
    con = duckdb.connect()
    try:
        con.register(
            "documents", pd.DataFrame(data, columns=["doc_id", "source", "score"])
        )
        want = {
            r[0]
            for r in con.execute(
                f"""
            SELECT doc_id FROM (
              SELECT doc_id, row_number() OVER (PARTITION BY source
                       ORDER BY score DESC, doc_id ASC) AS rk
              FROM documents)
            WHERE rk <= {k}
            """
            ).fetchall()
        }
        assert got == want
    finally:
        con.close()


@settings(**_FUZZ)
@given(
    corpus=st.lists(_doc, min_size=1, max_size=8),
    batch=st.lists(_doc, min_size=1, max_size=6),
)
def test_dedup_against_index_matches_monolithic_fuzz(spark, corpus, batch):
    """The incremental-ingest invariant on ARBITRARY corpora: checking a
    batch against the persisted band index (corpus text untouched, one
    signature pass feeding both checks) must equal the monolithic
    full-union banding restricted to batch-vs-corpus and
    batch-vs-batch pairs. The tiny alphabet makes cross-set bucket
    collisions — including empty-text and whole-text-shingle docs —
    constant."""
    cdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"]
    )
    bdf = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(batch)], ["doc_id", "text"]
    )
    index = dedup.minhash_band_table(cdf, "text", "doc_id")
    got = dedup.dedup_against_index(bdf, index, "text", "doc_id").collect()
    vs_index = {(r.id_new, r.id_match) for r in got if r.source == "index"}
    within = {(r.id_new, r.id_match) for r in got if r.source == "batch"}

    full = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            cdf.unionByName(bdf), "text", "doc_id"
        ).collect()
    }
    want_cross = {(b, a) for a, b in full if a < 100 <= b}
    want_within = {(a, b) for a, b in full if a >= 100}
    assert vs_index == want_cross
    assert within == want_within
