"""Dataset manifest, catalog, csv ingest, datagen, tokens, integrity,
multimodal plumbing, streaming."""

import json
import struct
import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from nbdatatools_spark.datagen import generate_vectors
from nbdatatools_spark.functions.units import parse_unit_count
from nbdatatools_spark.operators.integrity import chunk_digests, merkle_root, verify_file
from nbdatatools_spark.plans.tokens import Templatizer, compute_spec_tokens
from nbdatatools_spark.sources.catalog import Catalog
from nbdatatools_spark.sources.csv_vec import read_csv_vectors
from nbdatatools_spark.sources.dataset import load_dataset, _expand_sized


# --- units ---------------------------------------------------------------

def test_parse_unit_count():
    assert parse_unit_count("10m") == 10_000_000
    assert parse_unit_count("4G") == 4_000_000_000
    assert parse_unit_count("4Gi") == 4 * 2**30
    assert parse_unit_count("123") == 123
    assert parse_unit_count(5) == 5
    with pytest.raises(ValueError):
        parse_unit_count("ten")


def test_sized_expansion():
    assert _expand_sized(["10"]) == [10]
    assert _expand_sized("100..400/100") == [100, 200, 300, 400]
    assert _expand_sized("mul:1..8/2") == [1, 2, 4, 8]
    fib = _expand_sized("fib:1..20")
    assert fib == [1, 2, 3, 5, 8, 13]  # distinct sizes (no duplicate 1)


# --- dataset manifest ----------------------------------------------------

@pytest.fixture()
def dataset_dir(tmp_path):
    rng = np.random.default_rng(3)
    for name, n in [("base.fvec", 30), ("query.fvec", 10)]:
        with open(tmp_path / name, "wb") as f:
            for row in rng.normal(size=(n, 4)).astype("<f4"):
                f.write(struct.pack("<i", 4) + row.tobytes())
    (tmp_path / "dataset.yaml").write_text(
        """
name: testset
attributes:
  vendor: acme
  distance_function: COSINE
profiles:
  default:
    base: base.fvec
    query: query.fvec
  small:
    base: base.fvec[0..10]
  sizes:
    sized: ["5..10/5"]
    base: base.fvec
"""
    )
    return str(tmp_path)


def test_manifest_profiles_and_inheritance(spark, dataset_dir):
    m = load_dataset(dataset_dir)
    assert m.name == "testset"
    # inheritance: 'small' overrides base, inherits query (DSProfileGroup 2-pass)
    p = m.profile("small")
    assert set(p.facets) == {"base_vectors", "query_vectors"}
    assert m.facet(spark, "base", "small").count() == 10
    assert m.facet(spark, "query", "small").count() == 10
    # windows push down as ordinal filters
    assert m.facet(spark, "base_vectors", "default").count() == 30


def test_manifest_sized_and_name_normalization(spark, dataset_dir):
    m = load_dataset(dataset_dir)
    assert "sizes:5" in m.profiles and "sizes:10" in m.profiles
    assert m.facet(spark, "base", "sizes:5").count() == 5
    # 'a:b:c' resolves last segment; dataset name -> default
    assert m.profile("whatever:small").name == "small"
    assert m.profile("testset").name == "default"
    with pytest.raises(KeyError):
        m.profile("nope")


# --- catalog -------------------------------------------------------------

def test_attr_syntax_value_types():
    """ValueType.fromLiteral:144-176 + suffix parsing + range enforcement."""
    from nbdatatools_spark.functions.attrs import (
        AttrSet,
        AttrSpec,
        AttrValue,
        ValueType,
        value_type_of,
    )

    cases = {
        "42b": (ValueType.BYTE, 42),
        "42s": (ValueType.SHORT, 42),
        "42": (ValueType.INT, 42),
        "42i": (ValueType.INT, 42),
        "42L": (ValueType.LONG, 42),
        "1234567890": (ValueType.LONG, 1234567890),  # >=10 digits
        "4.25": (ValueType.FLOAT, 4.25),
        "1234.5678": (ValueType.DOUBLE, 1234.5678),  # >7 digits
        "4.25f": (ValueType.FLOAT, 4.25),
        "4.25d": (ValueType.DOUBLE, 4.25),
        "-17": (ValueType.INT, -17),
        "hello": (ValueType.STRING, "hello"),
    }
    for lit, (vt, val) in cases.items():
        av = AttrValue.parse(lit)
        assert (av.type, av.value) == (vt, val), lit
        assert value_type_of(lit) == vt
    # explicit type hint overrides inference
    av = AttrValue.parse("(string)42")
    assert (av.type, av.value) == (ValueType.STRING, "42")
    with pytest.raises(ValueError, match="overflows byte"):
        AttrValue.parse("300b")
    with pytest.raises(ValueError, match="unknown value type"):
        AttrValue.parse("(frob)42")
    # attr specs: optional section path, [:.] separator
    assert AttrSpec.parse("license") == AttrSpec("/", "license")
    assert AttrSpec.parse("/attributes/license".replace("/license", ":license")) == AttrSpec(
        "/attributes", "license"
    )
    s = AttrSet.parse("/attributes:dims = 128")
    assert s.spec == AttrSpec("/attributes", "dims") and s.value.value == 128


def test_manifest_variables_overlay_and_typed_attrs(tmp_path, dataset_dir):
    """TestDataGroup.java:129-150: inline variables section first, then
    variables.yaml overlay wins; plus typed attribute access."""
    import pathlib

    p = pathlib.Path(dataset_dir)
    (p / "dataset.yaml").write_text(
        (p / "dataset.yaml").read_text().replace(
            "attributes:",
            "variables:\n  token: inline\n  keep: yes\nattributes:\n  dims: 128\n",
        )
    )
    (p / "variables.yaml").write_text("token: overlaid\nextra: added\n")
    m = load_dataset(dataset_dir)
    assert m.get_variable("token") == "overlaid"  # overlay wins
    assert m.get_variable("keep") == "True"  # inline survives, stringified
    assert m.get_variable("extra") == "added"
    assert m.get_variable("missing", "dflt") == "dflt"
    # typed attributes: ints infer, strings pass through typed parse
    assert m.attr("dims") == 128
    assert m.attr("vendor") == "acme"
    assert m.attr("/attributes:dims") == 128
    # explicit path walks the RAW manifest section (pre-overlay by design)
    assert m.attr("/variables:token") == "inline"
    with pytest.raises(KeyError):
        m.attr("nonexistent")


def test_catalog_lookup(tmp_path):
    data = [
        {"name": "glove-25", "url": "u1"},
        {"name": "glove-100", "url": "u2"},
        {"name": "sift-128", "url": "u3"},
    ]
    p = tmp_path / "catalog.json"
    p.write_text(json.dumps(data))
    cat = Catalog.load(str(p))
    assert cat.find_exact("sift-128").url == "u3"
    assert {e.name for e in cat.match_glob("glove-*")} == {"glove-25", "glove-100"}
    assert [e.name for e in cat.match_regex(r"glove-\d{3}")] == ["glove-100"]
    assert cat.match_one("sift*").name == "sift-128"
    with pytest.raises(ValueError):
        cat.match_one("glove-*")
    with pytest.raises(KeyError):
        cat.match_one("nothere")


def test_catalog_build_and_save(tmp_path, dataset_dir):
    cat = Catalog.build([dataset_dir])
    assert [e.name for e in cat.entries] == ["testset"]
    out = tmp_path / "cat.json"
    cat.save(str(out))
    assert Catalog.load(str(out)).find_exact("testset") is not None


# --- csv ingest ----------------------------------------------------------

def test_csv_autodetect(spark, tmp_path):
    p = tmp_path / "v.csv"
    p.write_text('id,emb\n0,"[1.0, 2.0]"\n1,"[3.0, 4.0]"\n')
    df = read_csv_vectors(spark, str(p), ordinal_col="id")
    rows = df.orderBy("ordinal").collect()
    assert rows[0]["vector"] == [1.0, 2.0] and rows[1]["vector"] == [3.0, 4.0]


def test_csv_no_header_no_ordinal(spark, tmp_path):
    p = tmp_path / "v2.csv"
    p.write_text('"[1, 2]"\n"[3, 4]"\n"[5, 6]"\n')
    df = read_csv_vectors(spark, str(p), element_type="int")
    rows = df.orderBy("ordinal").collect()
    assert [r["ordinal"] for r in rows] == [0, 1, 2]
    assert rows[2]["vector"] == [5, 6]


# --- datagen -------------------------------------------------------------

def test_datagen_deterministic_and_partition_independent(spark):
    a = generate_vectors(spark, 100, 8, seed=9, partitions=2).orderBy("ordinal").collect()
    b = generate_vectors(spark, 100, 8, seed=9, partitions=7).orderBy("ordinal").collect()
    assert [r["vector"] for r in a] == [r["vector"] for r in b]
    c = generate_vectors(spark, 100, 8, seed=10, partitions=2).orderBy("ordinal").collect()
    assert [r["vector"] for r in a] != [r["vector"] for r in c]


def test_datagen_injection(spark):
    df = generate_vectors(
        spark, 500, 4, seed=42, zeroes_proportion=0.05, duplicates_proportion=0.05
    ).cache()
    from nbdatatools_spark.operators.analysis import count_zero_vectors

    nz = count_zero_vectors(df).collect()[0]["n_zero"]
    assert 5 <= nz <= 60  # ~5% of 500
    dup_groups = (
        df.groupBy("vector").count().where(F.col("count") > 1).count()
    )
    assert dup_groups >= 3
    # gaussian moments sane
    stats = df.select(F.explode("vector").alias("v")).agg(
        F.avg("v"), F.stddev_pop("v")
    ).collect()[0]
    assert abs(stats[0]) < 0.1 and 0.85 < stats[1] < 1.15


def test_datagen_values_pinned_to_gaussians(spark):
    """Rows are bit-identical to ``_gaussians`` of their ordinal; injected
    zero rows are zero and each duplicate copies the vector of an earlier
    ordinal."""
    from nbdatatools_spark.datagen import _gaussians, _uniforms

    n, dim, seed, sigma = 400, 8, 5, 2.0
    tbl = generate_vectors(
        spark, n, dim, seed=seed, variability=sigma,
        zeroes_proportion=0.05, duplicates_proportion=0.05, partitions=3,
    ).toArrow().sort_by("ordinal")
    assert tbl.column("ordinal").to_pylist() == list(range(n))
    got = tbl.column("vector").combine_chunks().flatten().to_numpy().reshape(n, dim)
    ords = np.arange(n)
    with warnings.catch_warnings():
        # the counter mix wraps on purpose and must say so, not warn
        warnings.simplefilter("error", RuntimeWarning)
        want = (_gaussians(seed, ords, dim) * sigma).astype(np.float32)
    is_zero = _uniforms(seed, ords, 1, 101)[:, 0] < 0.05
    is_dup = ~is_zero & (_uniforms(seed, ords, 1, 102)[:, 0] < 0.05) & (ords > 0)
    plain = ~is_zero & ~is_dup
    assert is_zero.any() and is_dup.any()
    assert (got[plain].view(np.uint32) == want[plain].view(np.uint32)).all()
    assert (got[is_zero] == 0).all()
    for i in np.nonzero(is_dup)[0]:
        assert (want[:i] == got[i]).all(axis=1).any(), i


# --- tokens --------------------------------------------------------------

def test_templatizer(spark):
    base = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "ordinal BIGINT, vector ARRAY<FLOAT>"
    )
    idx = spark.createDataFrame([(0, [1, 2, 3])], "ordinal BIGINT, indices ARRAY<INT>")
    toks = compute_spec_tokens(base=base, queries=base, indices=idx)
    t = Templatizer({**toks, "vendor": "acme"})
    assert t.render("${vendor}/${base_vectors}x${dimensions}_k${max_k}") == "acme/2x2_k3"
    with pytest.raises(KeyError):
        t.render("${missing}")


# --- integrity -----------------------------------------------------------

def test_integrity_verify_catches_corruption(spark, tmp_path):
    p = tmp_path / "blob.bin"
    p.write_bytes(bytes(range(256)) * 5000)  # ~1.25 MB, 2 chunks
    ref = chunk_digests(spark, str(p)).cache()
    assert ref.count() == 2
    root1 = merkle_root(ref)
    assert verify_file(spark, str(p), ref).count() == 0
    # spoil one byte (spoilbits fault injection, README.md:94-95)
    data = bytearray(p.read_bytes())
    data[100] ^= 0xFF
    p.write_bytes(bytes(data))
    bad = verify_file(spark, str(p), ref).collect()
    assert len(bad) == 1 and bad[0]["chunk_index"] == 0
    assert merkle_root(chunk_digests(spark, str(p))) != root1


# --- multimodal plumbing -------------------------------------------------

def test_bmp_wav_rvid_codecs_roundtrip():
    """Real dependency-free codecs: BMP 24/32-bit, WAV PCM16, RVID."""
    from nbdatatools_spark.functions.media_codecs import (
        block_mean_resize,
        decode_bmp,
        decode_rvid,
        decode_wav,
        encode_bmp,
        encode_rvid,
        encode_wav,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(13, 7, 3), dtype=np.uint8)  # odd stride
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)
    rgba = rng.integers(0, 256, size=(5, 5, 4), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(rgba)), rgba)
    pcm = rng.integers(-3000, 3000, size=(1000, 2)).astype("<i2")
    back, sr = decode_wav(encode_wav(pcm, 8000))
    assert sr == 8000 and np.array_equal(back, pcm)
    frames = rng.integers(0, 256, size=(6, 8, 8, 3), dtype=np.uint8)
    assert np.array_equal(decode_rvid(encode_rvid(frames)), frames)
    # block-mean pooling matches a hand mean on a uniform grid
    flat = np.full((8, 8), 10.0)
    assert np.allclose(block_mean_resize(flat, (2, 2)), 10.0)


def test_multimodal_image_features(spark):
    from nbdatatools_spark.functions.media_codecs import encode_bmp
    from nbdatatools_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_image_features,
        media_stats,
    )

    meta = {"width": 16, "height": 16, "channels": 3, "sample_rate": None, "duration_ms": None}
    # 2 real BMPs with KNOWN constant pixels + 2 raw bitmaps
    rows = [
        (0, "image/bmp", encode_bmp(np.full((16, 16, 3), 255, np.uint8)), meta),
        (1, "image/bmp", encode_bmp(np.zeros((16, 16, 3), np.uint8)), meta),
        (2, "image/raw", bytes([128]) * (16 * 16 * 3), meta),
        (3, "image/raw", bytes([64]) * (16 * 16 * 3), meta),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r["feature"] for r in decode_image_features(media, out_size=(4, 4)).collect()}
    assert all(len(f) == 16 for f in feats.values())
    # decoded values are EXACT, not hash-fakes
    assert all(abs(x - 1.0) < 1e-6 for x in feats[0])
    assert all(abs(x) < 1e-6 for x in feats[1])
    assert all(abs(x - 128 / 255) < 1e-6 for x in feats[2])
    stats = {r["kind"]: r for r in media_stats(media).collect()}
    assert stats["image/raw"]["n"] == 2
    # unknown compressed format without PIL -> loud NotImplementedError
    try:
        import PIL  # noqa: F401
    except ImportError:
        bad = spark.createDataFrame([(9, "image/jpeg", b"\xff\xd8\xff\xe0junk", meta)], MEDIA_SCHEMA)
        with pytest.raises(Exception, match="no decoder|NotImplemented"):
            decode_image_features(bad).collect()


def test_multimodal_video_frames(spark):
    from nbdatatools_spark.functions.media_codecs import encode_rvid
    from nbdatatools_spark.operators.multimodal import MEDIA_SCHEMA, sample_video_frames

    frames = np.stack([np.full((8, 8, 3), 10 * i, np.uint8) for i in range(6)])
    rows = [(0, "video/rvid", encode_rvid(frames),
             {"width": 8, "height": 8, "channels": 3, "sample_rate": None, "duration_ms": 200})]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_video_frames(media, every_n=2, out_size=(2, 2)).collect()
    assert [r["frame_index"] for r in out] == [0, 2, 4]
    # frame 4 is constant 40 -> pooled feature 40/255 everywhere
    f4 = [r for r in out if r["frame_index"] == 4][0]["feature"]
    assert all(abs(x - 40 / 255) < 1e-6 for x in f4)


def test_multimodal_audio_frames(spark):
    from nbdatatools_spark.operators.multimodal import MEDIA_SCHEMA, sample_audio_frames

    from nbdatatools_spark.functions.media_codecs import encode_wav

    sig = (np.sin(np.linspace(0, 100, 16000)) * 3000).astype("<i2")
    meta = {"width": None, "height": None, "channels": None,
            "sample_rate": 16000, "duration_ms": 1000}
    rows = [
        (0, "audio/pcm16", sig.tobytes(), meta),
        # real RIFF/WAVE container: sample rate read from the fmt chunk, so
        # meta sample_rate is deliberately wrong here and must be ignored
        (1, "audio/wav", encode_wav(sig, 16000), {**meta, "sample_rate": 1}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = sample_audio_frames(media, frame_ms=100).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["rms"])
    assert len(by_id[0]) == 10 and all(v > 0 for v in by_id[0])
    # wav path decodes the same samples -> identical frame RMS values
    assert by_id[1] == by_id[0]
    bad = spark.createDataFrame([(2, "audio/mp3", b"x", meta)], MEDIA_SCHEMA)
    with pytest.raises(Exception):
        sample_audio_frames(bad).collect()
