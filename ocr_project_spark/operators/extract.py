"""Batch extraction operator: validate → dispatch → extract, one Arrow pass.

This is the Spark-native collapse of the reference's three process boundaries
(orchestrator HTTP hop, backend Flask hop, vLLM engine — SURVEY §3.1): a
single ``mapInArrow`` over the scanned pages' Arrow record batches. Each
input column is read once as a Python list and each output column is built
straight into an Arrow array of ``CORE_RESULT_ARROW_SCHEMA``, so no
row-oriented frame sits on either side of the boundary. Dispatch (R2) is
row-local (no shuffle); validation rejects (R1) become error rows instead of
HTTP 400s (reference: orchestrator/server.py:127-135); the health gate (R3)
becomes per-document fault isolation plus an optional model-loaded
short-circuit.

Zero per-row Python at the DataFrame level: the per-document loop runs inside
the Arrow batch on the executor, exactly where the reference's per-request
loop ran inside its GPU service.
"""

from __future__ import annotations

import time
from typing import Iterator, Sequence

import pyarrow as pa

from pyspark.sql import DataFrame

from ocr_project_spark.contract import (
    CORE_RESULT_ARROW_SCHEMA,
    CORE_RESULT_SCHEMA,
    ERR_INVALID_BACKEND_FMT,
    ERR_INVALID_MODE_FMT,
    ERR_MISSING_DOCUMENT,
    FILE_TYPE_IMAGE,
    RESULT_SCHEMA,
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


def _extract_one(backend, payload, sel, mode, locate_ref, gate) -> DocResult:
    if backend not in BACKEND_REGISTRY:
        return _reject(
            backend if backend is not None else "",
            ERR_INVALID_BACKEND_FMT.format(
                backend=backend, valid=", ".join(VALID_BACKENDS)
            ),
        )
    if mode and mode not in VALID_MODES:
        # R1 analog: a typo'd mode must surface, not silently behave as
        # grounding (mirrors the unknown-backend path)
        return _reject(
            backend,
            ERR_INVALID_MODE_FMT.format(mode=mode, valid=", ".join(VALID_MODES)),
        )
    if payload is None or len(payload) == 0:
        return _reject(backend, ERR_MISSING_DOCUMENT)
    if not gate.get(backend, True):
        return model_not_loaded_result(backend)
    if mode:
        return BACKEND_REGISTRY[backend](payload, sel, mode, locate_ref)
    return BACKEND_REGISTRY[backend](payload, sel)


def make_extract_fn(
    model_loaded: dict | None = None,
    raster_boxes: bool = False,
    columns: Sequence[str] = ("url", "html", "backend", "doc_id"),
):
    """Build the mapInArrow callable over batches holding ``columns`` (url,
    html, backend and any of doc_id, pages, mode, prompt). ``model_loaded``
    maps backend name → bool and defaults to all-loaded (the reference's
    steady state). ``raster_boxes=True`` emits boxes_image as base64 PNG
    (the reference's wire shape) instead of the default SVG analog.

    Each column is read once with ``batch[name].tolist()`` (any frame whose
    columns answer ``tolist`` works, not only an Arrow record batch); a
    NULL ``doc_id`` passes through as a NULL instead of failing the
    batch."""
    gate = model_loaded or {}
    render = render_boxes_png if raster_boxes else render_boxes_svg
    has_prompt = "prompt" in columns

    def _extract_batches(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            col = {name: batch[name].tolist() for name in columns}
            nulls = [None] * len(col["url"])
            results, elapsed = [], []
            for backend, payload, sel, mode, prompt in zip(
                col["backend"],
                col["html"],
                col.get("pages", nulls),
                col.get("mode", nulls),
                col.get("prompt", nulls),
            ):
                # explicit mode column wins; else a per-request prompt maps
                # to a mode (reference: free-form prompt on the DeepSeek arm)
                locate_ref = None
                if has_prompt:
                    if not mode:
                        mode = resolve_mode(prompt)
                    locate_ref = locate_target(prompt)
                t0 = time.perf_counter()
                results.append(
                    _extract_one(backend, payload, sel or None, mode, locate_ref, gate)
                )
                elapsed.append(time.perf_counter() - t0)
            # every other output column is the DocResult field of its name
            derived = {
                "url": col["url"],
                "doc_id": col.get("doc_id", [-1] * len(nulls)),
                # deterministic analog of the reference's boxes_image,
                # rendered only on the single-page image path like the
                # reference (deepseek_ocr_backend.py:176 vs 234 pdf path =
                # ""; default "" at api_contract.py:215)
                "boxes_image": [
                    render(r.spans)
                    if r.spans and r.file_type == FILE_TYPE_IMAGE
                    else ""
                    for r in results
                ],
                "n_bytes": [len(r.text.encode("utf-8")) for r in results],
                "processing_time": elapsed,
            }
            # spans: (ref, x1, y1, x2, y2) tuples convert to the span structs
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        derived[f.name]
                        if f.name in derived
                        else [getattr(r, f.name) for r in results],
                        f.type,
                    )
                    for f in CORE_RESULT_ARROW_SCHEMA
                ],
                schema=CORE_RESULT_ARROW_SCHEMA,
            )

    return _extract_batches


def extract_documents(
    pages_df: DataFrame,
    model_loaded: dict | None = None,
    raster_boxes: bool = False,
) -> DataFrame:
    """pages(url, html, backend[, doc_id, pages, mode, prompt]) → unified
    result DataFrame.

    Narrow transformation: dispatch and extraction are row-local, so the
    input partitioning is preserved — no shuffle is introduced between the
    scan and the result sink at any scale.
    """
    from pyspark.sql import functions as F

    optional = ("doc_id", "pages", "mode", "prompt")
    cols = ["url", "html", "backend", *(c for c in optional if c in pages_df.columns)]
    core = pages_df.select(*cols).mapInArrow(
        make_extract_fn(model_loaded, raster_boxes, cols),
        schema=CORE_RESULT_SCHEMA,
    )
    # JVM-derived parity columns (contract.JVM_DERIVED_FIELDS): file_name =
    # url basename (reference api_contract.py:92-95), source_markdown =
    # markdown (constructor default, api_contract.py:214). Pure Catalyst
    # projection — no extra bytes cross the Arrow boundary.
    derived = {
        "file_name": F.when(
            F.length("url") > 0, F.element_at(F.split("url", "/"), -1)
        ).otherwise(F.lit("")),
        "source_markdown": F.col("markdown"),
    }
    return core.select(
        *[
            derived[f.name].alias(f.name) if f.name in derived else f.name
            for f in RESULT_SCHEMA.fields
        ]
    )
