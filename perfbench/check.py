"""Correctness check of one timed run, outside the timed region.

The check reads the results and lineage stores with pyarrow, not with the
Spark job under test, and compares them with the generated input:

- every input url is in the results store exactly once;
- a document with ``doc_id % 97 == 13`` (a truncated payload) is a failed
  row carrying its arm's error and the ``contract.py`` error shape;
- every other row succeeded and its ``text`` equals ``documents.text`` of
  ``doc_id % 10**6``;
- the lineage rows of this run sum to the rows it wrote.
"""

from __future__ import annotations

import collections
import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_project_spark.contract import BACKEND_HTML, BACKEND_LAYOUT, ERR_IMAGE_FMT
from ocr_project_spark.datagen import REPLICA_STRIDE, backend_for, is_malformed
# What each arm reports for a truncated payload: the html arm finds no text
# block, the layout arm cannot parse its layout tree.
MALFORMED_ERRORS = {
    BACKEND_HTML: "no text blocks detected in document",
    BACKEND_LAYOUT: "invalid PAGEDOC payload: truncated layout tree",
}
RESULT_COLUMNS = ["url", "doc_id", "backend", "file_type", "success", "text",
                  "markdown", "error", "run_id"]
MAX_EXAMPLES = 3


@dataclass
class Verdict:
    written: int = 0  # rows this run appended
    identical: int = 0  # of those, successful rows with byte-identical text
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.problems


def read_store(path: str, columns: list[str] | None = None) -> pa.Table | None:
    """A parquet store directory as one table, or None if it is absent."""
    if not os.path.isdir(path):
        return None
    return pq.read_table(path, columns=columns)


def _report(problems: list[str], what: str, examples: list) -> None:
    if examples:
        problems.append(f"{len(examples)} {what}, e.g. {examples[:MAX_EXAMPLES]}")


def check_run(
    results: pa.Table | None,
    lineage: pa.Table | None,
    expected: dict[str, int],
    truth: dict[int, str],
    run_id: int,
) -> Verdict:
    """Check the whole results store after run ``run_id``.

    ``expected`` maps every input url to its doc id; ``truth`` maps a base
    doc id to its ground-truth text."""
    verdict = Verdict()
    problems = verdict.problems
    rows = results.select(RESULT_COLUMNS).to_pylist() if results is not None else []

    counts = collections.Counter(r["url"] for r in rows)
    _report(problems, "urls written more than once",
            sorted(u for u, c in counts.items() if c > 1))
    _report(problems, "input urls missing", sorted(set(expected) - set(counts)))
    _report(problems, "urls not in the input", sorted(set(counts) - set(expected)))

    wrong_id, wrong_fail, wrong_text = [], [], []
    for r in rows:
        doc_id = expected.get(r["url"])
        if doc_id is None:
            continue
        if r["doc_id"] != doc_id:
            wrong_id.append(r["url"])
            continue
        if is_malformed(doc_id):
            err = MALFORMED_ERRORS[backend_for(doc_id)]
            if (r["success"] or r["error"] != err
                    or r["markdown"] != ERR_IMAGE_FMT.format(err=err)):
                wrong_fail.append(r["url"])
        elif not r["success"] or r["text"] != truth.get(doc_id % REPLICA_STRIDE):
            wrong_text.append(r["url"])
        elif r["run_id"] == run_id:
            verdict.identical += 1
    _report(problems, "rows with the wrong doc_id", wrong_id)
    _report(problems, "malformed docs without their error row", wrong_fail)
    _report(problems, "rows whose text differs from documents.text", wrong_text)

    verdict.written = sum(1 for r in rows if r["run_id"] == run_id)
    lineage_docs = 0
    if lineage is not None:
        lineage_docs = sum(
            r["n_docs"] for r in lineage.select(["run_id", "n_docs"]).to_pylist()
            if r["run_id"] == run_id
        )
    if lineage_docs != verdict.written:
        problems.append(
            f"lineage of run {run_id} counts {lineage_docs} docs, "
            f"the run wrote {verdict.written}"
        )
    return verdict
