"""Seeded input generator for the extraction-job benchmark.

The base corpus is ``data/documents.parquet`` (5000 documents). A seed picks

- the replica offsets: replica ``k`` re-ids every base document as
  ``doc_id + k * 10**6``, so backend, page count, host and the malformed
  marker all re-derive from the new id (``ocr_project_spark.datagen``);
- which of the replicated documents the input uses;
- the file packing order: a permutation of all pages, cut into equal files;
- the urls taken as already done when the traced run probes the resume
  layer.

Pages are synthesized by ``datagen.synthesize_pages``' per-batch body and
written with pyarrow in a canonical order, so one seed gives byte-identical
files.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ocr_project_spark.datagen import REPLICA_STRIDE

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DOCUMENTS = os.path.join(HERE, "data", "documents.parquet")
MAX_REPLICA = 1000  # offsets stay below 10**9, far from int64 limits


@dataclass(frozen=True)
class InputPlan:
    """Everything the seed decides, as plain data."""

    offsets: tuple[int, ...]  # replica numbers k, sorted
    rows: tuple[int, ...]  # the documents used, as sorted replicated-row indices
    order: tuple[int, ...]  # permutation of the used rows, for file packing
    n_files: int
    done: tuple[int, ...]  # used-row indices already done, sorted


def make_plan(
    seed: int,
    n_base: int,
    n_docs: int,
    n_files: int,
    done_frac: float = 0.0,
) -> InputPlan:
    """The seeded choices for ``n_docs`` pages out of replicas of ``n_base``
    base documents.

    Used rows are indexed in canonical order (ascending ``doc_id``);
    ``done_frac`` of them are marked done."""
    rng = random.Random(seed)
    replicas = -(-n_docs // n_base)
    offsets = tuple(sorted(rng.sample(range(MAX_REPLICA), replicas)))
    rows = tuple(sorted(rng.sample(range(replicas * n_base), n_docs)))
    order = list(range(n_docs))
    rng.shuffle(order)
    done = tuple(sorted(rng.sample(range(n_docs), round(n_docs * done_frac))))
    return InputPlan(offsets, rows, tuple(order), n_files, done)


def read_base_documents(path: str = BASE_DOCUMENTS) -> pa.Table:
    return pq.read_table(path).sort_by("doc_id")


def planned_documents(base: pa.Table, plan: InputPlan) -> pa.Table:
    """The plan's rows of the base documents replicated once per offset
    (ids shifted by ``k * REPLICA_STRIDE``), in ascending id."""
    parts = []
    for k in plan.offsets:
        ids = pc.add(base["doc_id"], pa.scalar(k * REPLICA_STRIDE, pa.int64()))
        parts.append(base.set_column(base.schema.get_field_index("doc_id"), "doc_id", ids))
    replicated = pa.concat_tables(parts).sort_by("doc_id")
    return replicated.take(pa.array(plan.rows, pa.int64()))


def synthesize(documents: pa.Table) -> pa.Table:
    """Pages for ``documents``, in ascending ``doc_id`` (the canonical order
    the plan indexes).

    This is the per-batch body of ``datagen.synthesize_pages``, run in this
    process on one batch: the same pages, without a Spark job in set-up."""
    from ocr_project_spark.datagen import _synthesize_batch

    batch = documents.select(["doc_id", "text", "lang", "source"]).to_pandas()
    pages = pa.Table.from_pandas(next(_synthesize_batch(iter([batch]))),
                                 preserve_index=False)
    ts = pages.schema.get_field_index("warc_ts")
    schema = pages.schema.set(ts, pa.field("warc_ts", pa.timestamp("us", tz="UTC")))
    return pages.cast(schema.remove_metadata()).sort_by("doc_id")


def write_pages(pages: pa.Table, plan: InputPlan, out_dir: str) -> list[str]:
    """Write ``pages`` permuted by the plan into ``plan.n_files`` files."""
    os.makedirs(out_dir, exist_ok=True)
    shuffled = pages.take(pa.array(plan.order, pa.int64()))
    n = shuffled.num_rows
    paths = []
    for f in range(plan.n_files):
        lo, hi = f * n // plan.n_files, (f + 1) * n // plan.n_files
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(shuffled.slice(lo, hi - lo), path, compression="snappy")
        paths.append(path)
    return paths

