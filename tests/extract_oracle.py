"""Test oracle for the extraction operator's per-batch wrapper: the pandas
``mapInPandas`` body of ``operators/extract.make_extract_fn`` as it stood
before the operator moved to a columnar ``mapInArrow`` pass.

Kept verbatim so ``tests/test_dispatch.py`` can compare the two on the same
input: every output column but ``processing_time`` must match. Nothing in
the package imports this module.
"""

from __future__ import annotations

import time
from typing import Iterator

import pandas as pd

from ocr_project_spark.contract import (
    CORE_RESULT_SCHEMA,
    ERR_INVALID_BACKEND_FMT,
    ERR_INVALID_MODE_FMT,
    ERR_MISSING_DOCUMENT,
    FILE_TYPE_IMAGE,
    VALID_BACKENDS,
)
from ocr_project_spark.functions.markers import render_boxes_png, render_boxes_svg
from ocr_project_spark.kernels.registry import (
    BACKEND_REGISTRY,
    DocResult,
    VALID_MODES,
    locate_target,
    model_not_loaded_result,
    resolve_mode,
)


def _reject(backend: str, err: str) -> DocResult:
    return DocResult(
        backend=backend,
        file_type="",
        success=False,
        markdown="",
        text="",
        raw_output="",
        error=err,
    )


def _result_row(
    url: str,
    doc_id: int,
    res: DocResult,
    elapsed: float = 0.0,
    raster_boxes: bool = False,
) -> dict:
    render = render_boxes_png if raster_boxes else render_boxes_svg
    return {
        "url": url,
        "doc_id": doc_id,
        "backend": res.backend,
        "file_type": res.file_type,
        "success": res.success,
        "markdown": res.markdown,
        "text": res.text,
        "raw_output": res.raw_output,
        "spans": [
            {"ref": s[0], "x1": s[1], "y1": s[2], "x2": s[3], "y2": s[4]}
            for s in res.spans
        ],
        # deterministic analog of the reference's boxes_image — rendered
        # only on the single-page image path, exactly like the reference
        # (deepseek_ocr_backend.py:176 image path vs 234 pdf path = "";
        # default "" at api_contract.py:215). Default: SVG (codec-free);
        # raster_boxes=True: base64 PNG in the reference's wire shape with
        # a fixed palette (render_boxes_png)
        "boxes_image": render(res.spans)
        if res.spans and res.file_type == FILE_TYPE_IMAGE
        else "",
        "page_count": res.page_count,
        "processed_pages": list(res.processed_pages),
        "n_bytes": len(res.text.encode("utf-8")),
        "processing_time": elapsed,
        "error": res.error,
    }


_COLUMNS = [f.name for f in CORE_RESULT_SCHEMA.fields]


def make_extract_fn(model_loaded: dict | None = None, raster_boxes: bool = False):
    """Build the mapInPandas callable; ``model_loaded`` maps backend name →
    bool and defaults to all-loaded (the reference's steady state).
    ``raster_boxes=True`` emits boxes_image as base64 PNG (the reference's
    wire shape) instead of the default SVG analog."""
    gate = model_loaded or {}

    def _extract_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            has_pages = "pages" in pdf.columns
            has_doc_id = "doc_id" in pdf.columns
            has_mode = "mode" in pdf.columns
            has_prompt = "prompt" in pdf.columns
            rows = []
            for i in range(len(pdf)):
                url = pdf["url"].iat[i]
                doc_id = int(pdf["doc_id"].iat[i]) if has_doc_id else -1
                backend = pdf["backend"].iat[i]
                payload = pdf["html"].iat[i]
                sel = None
                if has_pages:
                    raw_sel = pdf["pages"].iat[i]
                    if raw_sel is not None and len(raw_sel) > 0:
                        sel = [int(p) for p in raw_sel]
                # explicit mode column wins; else a per-request prompt maps
                # to a mode (reference: free-form prompt on the DeepSeek arm)
                mode = pdf["mode"].iat[i] if has_mode else None
                locate_ref = None
                if has_prompt:
                    prompt = pdf["prompt"].iat[i]
                    if not mode:
                        mode = resolve_mode(prompt)
                    locate_ref = locate_target(prompt)
                t0 = time.perf_counter()
                if backend not in BACKEND_REGISTRY:
                    res = _reject(
                        backend if backend is not None else "",
                        ERR_INVALID_BACKEND_FMT.format(
                            backend=backend, valid=", ".join(VALID_BACKENDS)
                        ),
                    )
                elif mode and mode not in VALID_MODES:
                    # R1 analog: a typo'd mode must surface, not silently
                    # behave as grounding (mirrors the unknown-backend path)
                    res = _reject(
                        backend,
                        ERR_INVALID_MODE_FMT.format(
                            mode=mode, valid=", ".join(VALID_MODES)
                        ),
                    )
                elif payload is None or len(payload) == 0:
                    res = _reject(backend, ERR_MISSING_DOCUMENT)
                elif not gate.get(backend, True):
                    res = model_not_loaded_result(backend)
                elif mode:
                    res = BACKEND_REGISTRY[backend](
                        bytes(payload), sel, mode, locate_ref
                    )
                else:
                    res = BACKEND_REGISTRY[backend](bytes(payload), sel)
                rows.append(
                    _result_row(
                        url,
                        doc_id,
                        res,
                        time.perf_counter() - t0,
                        raster_boxes=raster_boxes,
                    )
                )
            yield pd.DataFrame(rows, columns=_COLUMNS)

    return _extract_batches
