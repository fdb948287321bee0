"""Dispatch / validation / error-semantics tests (SURVEY §2.2 R1-R4, §2.5 P7).

Pure-Python checks on the registry arms plus Spark-level dispatch through the
mapInArrow extraction operator, mirroring the reference's contract tests
(deployment/test_phase3_web_client.sh:118-182: invalid backend rejected,
required fields present, both backends respond, invalid payload handled).
"""

from __future__ import annotations

from ocr_project_spark.contract import (
    BACKEND_HTML,
    BACKEND_LAYOUT,
    ERR_MODEL_NOT_LOADED,
)
from ocr_project_spark.datagen import build_html, build_pagedoc
from ocr_project_spark.kernels.registry import (
    BACKEND_REGISTRY,
    process_html_arm,
    process_layout_arm,
)
from ocr_project_spark.operators.extract import extract_documents

TEXT = " ".join(f"word{i}" for i in range(40))


def test_registry_names_match_reference():
    assert set(BACKEND_REGISTRY) == {"deepseek-ocr", "mineru"}


def test_html_arm_success_contract():
    res = process_html_arm(build_html(2, TEXT, "en").encode())
    assert res.success and res.backend == BACKEND_HTML
    assert res.text == TEXT
    assert res.page_count == 3  # doc 2 → 1 + 2%3 = 3 pages
    assert res.processed_pages == [1, 2, 3]
    assert res.file_type == "pdf"
    assert "<--- Page 1 --->" in res.markdown
    assert res.spans  # html arm emits spans
    assert res.error is None


def test_html_arm_single_page_is_image_path():
    res = process_html_arm(build_html(0, "short doc only", "en").encode())
    assert res.file_type == "image"
    assert res.processed_pages == [1]
    # image path: markdown is the P2 projection (no page separator)
    assert "<--- Page" not in res.markdown
    assert res.markdown == "short doc only"


def test_html_arm_error_shape():
    res = process_html_arm(b"<html><body></body></html>")
    assert not res.success
    assert res.markdown == "OCR processing failed: no text blocks detected in document"
    assert res.text == "" and res.raw_output == ""


def test_layout_arm_success_contract():
    res = process_layout_arm(build_pagedoc(1, TEXT, "en").encode())
    assert res.success and res.backend == BACKEND_LAYOUT
    assert res.text == TEXT
    assert res.page_count == 2  # doc 1 → 2 pages
    assert res.spans == []  # mineru arm has no spans (boxes stub returns "")
    raw = res.raw_output
    assert '"middle_json"' in raw and '"language": "ch"' in raw


def test_layout_arm_error_shape():
    res = process_layout_arm(b"PAGEDOC1\n{bad json")
    assert not res.success
    assert res.markdown.startswith("OCR processing failed: invalid PAGEDOC")


def test_free_mode_plain_raw_output():
    """M3: 'Free OCR.' mode emits plain text with no span markers; the P2
    projection then faithfully degrades to the reference sentinel on the
    single-page (image) path."""
    res = process_html_arm(build_html(0, "short doc only", "en").encode(), mode="free")
    assert res.success
    assert res.raw_output == "short doc only"
    assert res.spans == []
    assert res.markdown == "No text extracted from OCR output"
    assert res.text == "short doc only"  # extraction invariant unaffected


def test_free_mode_multi_page_keeps_separators():
    res = process_html_arm(build_html(2, TEXT, "en").encode(), mode="free")
    assert res.success
    assert "<--- Page 1 --->" in res.markdown
    assert "<|ref|>" not in res.markdown


def test_free_mode_via_mode_column(spark):
    df = spark.createDataFrame(
        [("u1", build_html(0, "alpha beta", "en").encode(), BACKEND_HTML, 0, "free")],
        "url string, html binary, backend string, doc_id long, mode string",
    )
    row = extract_documents(df).collect()[0]
    assert row["raw_output"] == "alpha beta"
    assert row["spans"] == []


def test_page_selection_divergence_through_arms():
    html = build_html(2, TEXT, "en").encode()  # 3 pages, html arm
    pd_payload = build_pagedoc(2, TEXT, "en").encode()
    exact = process_html_arm(html, [1, 3])
    ranged = process_layout_arm(pd_payload, [1, 3])
    assert exact.processed_pages == [1, 3]  # DeepSeek: exact set
    assert ranged.processed_pages == [1, 2, 3]  # MinerU: min..max range


def test_spark_dispatch_and_rejects(spark):
    rows = [
        ("u1", build_html(0, "alpha beta gamma", "en").encode(), BACKEND_HTML, 0),
        ("u2", build_pagedoc(1, "delta epsilon zeta", "en").encode(), BACKEND_LAYOUT, 1),
        ("u3", b"payload", "no-such-backend", 2),
        ("u4", b"", BACKEND_HTML, 3),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, backend string, doc_id long"
    )
    out = {r["url"]: r for r in extract_documents(df).collect()}
    assert out["u1"]["success"] and out["u1"]["text"] == "alpha beta gamma"
    assert out["u2"]["success"] and out["u2"]["text"] == "delta epsilon zeta"
    assert not out["u3"]["success"]
    assert "Invalid backend: no-such-backend" in out["u3"]["error"]
    assert "deepseek-ocr, mineru" in out["u3"]["error"]
    assert not out["u4"]["success"]
    assert out["u4"]["error"] == "No document payload provided"


def test_spark_model_gate(spark):
    df = spark.createDataFrame(
        [("u1", build_html(0, "alpha beta", "en").encode(), BACKEND_HTML, 0)],
        "url string, html binary, backend string, doc_id long",
    )
    row = extract_documents(df, model_loaded={BACKEND_HTML: False}).collect()[0]
    assert not row["success"]
    assert row["error"] == ERR_MODEL_NOT_LOADED
    assert row["markdown"] == ERR_MODEL_NOT_LOADED


def test_spark_page_selection_column(spark):
    df = spark.createDataFrame(
        [("u1", build_html(2, TEXT, "en").encode(), BACKEND_HTML, 2, [1, 3])],
        "url string, html binary, backend string, doc_id long, pages array<int>",
    )
    row = extract_documents(df).collect()[0]
    assert row["processed_pages"] == [1, 3]
    assert row["page_count"] == 3


def test_invalid_mode_rejected(spark):
    """A typo'd mode surfaces as an error row (mirrors unknown-backend),
    never silently coerces to grounding."""
    df = spark.createDataFrame(
        [("u1", build_html(0, "alpha beta", "en").encode(), BACKEND_HTML, 0, "fre")],
        "url string, html binary, backend string, doc_id long, mode string",
    )
    row = extract_documents(df).collect()[0]
    assert not row["success"]
    assert row["error"] == "Invalid mode: fre. Valid modes: grounding, free, locate"


def test_prompt_column_maps_to_modes(spark):
    """Per-request prompt passthrough (reference process/config.py:27-37):
    grounding template → markers, any non-grounding prompt → free, missing
    prompt → default template."""
    payload = build_html(0, "alpha beta", "en").encode()
    rows = [
        ("g", payload, BACKEND_HTML, 0,
         "<image>\n<|grounding|>Convert the document to markdown."),
        ("f", payload, BACKEND_HTML, 0, "Free OCR."),
        ("u", payload, BACKEND_HTML, 0, "Parse the figure."),
        ("n", payload, BACKEND_HTML, 0, None),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, backend string, doc_id long, prompt string"
    )
    out = {r["url"]: r for r in extract_documents(df).collect()}
    assert out["g"]["raw_output"].startswith("<|ref|>")
    assert out["f"]["raw_output"] == "alpha beta" and out["f"]["spans"] == []
    # an explicit prompt WITHOUT the grounding token yields ungrounded
    # output (free), matching the model's observable behavior; only a
    # MISSING prompt falls back to the default (grounding) template
    assert out["u"]["raw_output"] == out["f"]["raw_output"]
    assert out["n"]["raw_output"] == out["g"]["raw_output"]


def test_explicit_mode_wins_over_prompt(spark):
    df = spark.createDataFrame(
        [("u1", build_html(0, "alpha beta", "en").encode(), BACKEND_HTML, 0,
          "free", "<image>\n<|grounding|>Convert the document to markdown.")],
        "url string, html binary, backend string, doc_id long, "
        "mode string, prompt string",
    )
    row = extract_documents(df).collect()[0]
    assert row["raw_output"] == "alpha beta"  # mode=free won


def test_unified_response_parity_fields(spark):
    """file_name / source_markdown / boxes_image match the reference's
    create_unified_response defaults (api_contract.py:182-217)."""
    from ocr_project_spark.functions.markers import render_boxes_svg

    rows = [
        ("https://h.example.org/dir/doc0.html",
         build_html(0, "alpha beta gamma", "en").encode(), BACKEND_HTML, 0),
        ("https://h.example.org/dir/doc1.pdf",
         build_pagedoc(1, "delta epsilon zeta", "en").encode(), BACKEND_LAYOUT, 1),
        ("https://h.example.org/dir/bad.html", b"", BACKEND_HTML, 2),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, backend string, doc_id long"
    )
    out = {r["doc_id"]: r for r in extract_documents(df).collect()}
    assert out[0]["file_name"] == "doc0.html"
    assert out[1]["file_name"] == "doc1.pdf"
    assert out[2]["file_name"] == "bad.html"
    # source_markdown defaults to markdown on success AND error rows
    for r in out.values():
        assert r["source_markdown"] == r["markdown"]
    # html arm: boxes_image is the deterministic SVG of the spans
    spans = [(s["ref"], s["x1"], s["y1"], s["x2"], s["y2"]) for s in out[0]["spans"]]
    assert out[0]["boxes_image"] == render_boxes_svg(spans)
    assert out[0]["boxes_image"].startswith("<svg")
    # layout arm has no spans; error rows have none either → "" default
    assert out[1]["boxes_image"] == ""
    assert out[2]["boxes_image"] == ""


def test_boxes_image_empty_on_pdf_path(spark):
    """Reference parity: the pdf path returns boxes_image = ""
    (deepseek_ocr_backend.py:234), only the image path renders boxes."""
    df = spark.createDataFrame(
        [("https://h.example.org/doc2.pdf",
          build_html(2, TEXT, "en").encode(), BACKEND_HTML, 2)],
        "url string, html binary, backend string, doc_id long",
    )
    row = extract_documents(df).collect()[0]
    assert row["file_type"] == "pdf" and row["spans"]
    assert row["boxes_image"] == ""


def test_locate_prompt_mode(spark):
    """'rec' prompt (reference config.py:36): markers only for blocks equal
    to the requested text — including duplicate matches — and the located
    content as text; a miss yields empty raw/spans."""
    text = "alpha beta gamma " * 8 + "alpha beta"  # para 0 repeats at para 3
    payload = build_html(0, text.strip(), "en").encode()  # single page
    prompt = "Locate <|ref|>alpha beta gamma alpha beta gamma alpha beta<|/ref|> in the image."
    rows = [
        ("hit", payload, BACKEND_HTML, 0, prompt),
        ("miss", payload, BACKEND_HTML, 0,
         "Locate <|ref|>not present here<|/ref|> in the image."),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, backend string, doc_id long, prompt string"
    )
    out = {r["url"]: r for r in extract_documents(df).collect()}
    hit = out["hit"]
    assert hit["success"]
    refs = [s["ref"] for s in hit["spans"]]
    assert refs and all(r == "alpha beta gamma alpha beta gamma alpha beta" for r in refs)
    assert hit["text"] == " ".join(refs)
    miss = out["miss"]
    assert miss["success"] and miss["spans"] == [] and miss["raw_output"] == ""


def test_null_doc_id_row_is_written(spark):
    """A NULL doc_id is a property of one row: it is written with a NULL
    doc_id and the rest of its batch is written too, never a failed task."""
    rows = [
        ("u0", build_html(0, "alpha beta", "en").encode(), BACKEND_HTML, 0),
        ("u1", build_html(1, "gamma delta", "en").encode(), BACKEND_HTML, None),
        ("u2", build_pagedoc(2, "epsilon zeta", "en").encode(), BACKEND_LAYOUT, 2),
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, backend string, doc_id long"
    ).coalesce(1)
    out = {r["url"]: r for r in extract_documents(df).collect()}
    assert set(out) == {"u0", "u1", "u2"}
    assert out["u1"]["doc_id"] is None
    assert out["u1"]["success"] and out["u1"]["text"] == "gamma delta"
    assert [out[u]["doc_id"] for u in ("u0", "u2")] == [0, 2]


def _oracle_cases():
    """Inputs that walk every branch of the per-row wrapper: backend and
    payload validation, page selections, mode and prompt resolution, and
    NULL urls."""
    import itertools

    payloads = [
        (BACKEND_HTML, build_html(0, "alpha beta gamma", "en").encode()),
        (BACKEND_HTML, build_html(2, TEXT, "en").encode()),  # 3 pages
        (BACKEND_HTML, b"<html><body></body></html>"),  # kernel error
        (BACKEND_LAYOUT, build_pagedoc(2, TEXT, "en").encode()),
        (BACKEND_LAYOUT, b"PAGEDOC1\n{bad json"),
        (None, b"payload"),
        ("no-such-backend", b"payload"),
        (BACKEND_HTML, None),
        (BACKEND_LAYOUT, b""),
    ]
    selections = [None, [], [99], [1, 3], [2]]
    modes = [None, "", "free", "grounding", "locate", "fre"]
    prompts = [
        None,
        "Locate <|ref|>alpha beta gamma<|/ref|> in the image.",
        "Free OCR.",
        "<image>\n<|grounding|>Convert the document to markdown.",
        "Parse the figure.",
    ]
    rows = []
    for i, ((backend, payload), sel, mode, prompt) in enumerate(
        itertools.product(payloads, selections, modes, prompts)
    ):
        url = None if i % 37 == 5 else f"https://h.example.org/d/{i}.html"
        rows.append((url, payload, backend, i, sel, mode, prompt))
    return rows


def test_extract_matches_pandas_oracle(spark):
    """The columnar wrapper writes the same rows as the row-at-a-time
    pandas wrapper it replaced (tests/extract_oracle.py), every column but
    the wall-clock ``processing_time``, for each input shape and option."""
    from ocr_project_spark.contract import CORE_RESULT_SCHEMA
    from tests.extract_oracle import make_extract_fn as oracle_extract_fn

    df = spark.createDataFrame(
        _oracle_cases(),
        "url string, html binary, backend string, doc_id long, "
        "pages array<int>, mode string, prompt string",
    ).cache()
    narrow = df.select("url", "html", "backend").where("doc_id % 7 = 0")
    core = [f.name for f in CORE_RESULT_SCHEMA.fields if f.name != "processing_time"]

    def rows(frame):
        return sorted((tuple(r) for r in frame.select(*core).collect()), key=repr)

    checked = 0
    for frame, model_loaded, raster in [
        (df, None, False),
        (df, {BACKEND_HTML: False}, False),
        (df.where("doc_id % 3 = 0"), None, True),
        (narrow, None, False),
    ]:
        got = rows(extract_documents(frame, model_loaded, raster_boxes=raster))
        want = rows(
            frame.mapInPandas(
                oracle_extract_fn(model_loaded, raster_boxes=raster),
                schema=CORE_RESULT_SCHEMA,
            )
        )
        assert len(got) == len(want) == frame.count()
        assert got == want
        checked += len(got)
    df.unpersist()
    assert checked > 1000
