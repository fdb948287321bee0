"""Tests of the benchmark's own code: generator, checker, span arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from ocr_project_spark.contract import ERR_IMAGE_FMT  # noqa: E402
from ocr_project_spark.datagen import REPLICA_STRIDE, backend_for, is_malformed  # noqa: E402
from perfbench import check, gen, layers  # noqa: E402
from perfbench.spans import Span, Tracer, covered, self_time_by_name, self_times  # noqa: E402

# --- generator ----------------------------------------------------------------


def test_plan_is_a_function_of_the_seed():
    a = gen.make_plan(7, 100, 250, 4, done_frac=0.9)
    assert a == gen.make_plan(7, 100, 250, 4, done_frac=0.9)
    assert len(a.offsets) == 3  # ceil(250 / 100) replicas
    assert len(a.rows) == len(set(a.rows)) == 250 and max(a.rows) < 300
    assert sorted(a.order) == list(range(250))
    assert len(a.done) == len(set(a.done)) == 225 and max(a.done) < 250


def test_two_seeds_pick_different_inputs_and_done_sets():
    a = gen.make_plan(1, 100, 250, 4, done_frac=0.9)
    b = gen.make_plan(2, 100, 250, 4, done_frac=0.9)
    assert a.offsets != b.offsets
    assert a.order != b.order
    assert a.done != b.done


def test_planned_documents_shift_ids_by_the_stride():
    base = gen.read_base_documents().slice(0, 10)
    plan = gen.InputPlan(offsets=(0, 5), rows=(1, 2, 11), order=(0, 1, 2),
                         n_files=1, done=())
    docs = gen.planned_documents(base, plan)
    ids = base.column("doc_id").to_pylist()
    assert docs.column("doc_id").to_pylist() == [
        ids[1], ids[2], ids[1] + 5 * REPLICA_STRIDE]
    assert docs.column("text").to_pylist()[2] == base.column("text")[1].as_py()


def _files(directory):
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = f.read()
    return out


def _generate(seed, out):
    base = gen.read_base_documents().slice(0, 40)
    plan = gen.make_plan(seed, base.num_rows, 70, 3)
    pages = gen.synthesize(gen.planned_documents(base, plan))
    gen.write_pages(pages, plan, str(out))
    return pages


def test_same_seed_writes_byte_identical_files(tmp_path):
    pages = _generate(3, tmp_path / "a")
    _generate(3, tmp_path / "b")
    _generate(4, tmp_path / "c")
    assert len(_files(tmp_path / "a")) == 3
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert pages.num_rows == len(set(pages.column("url").to_pylist())) == 70


# --- checker ------------------------------------------------------------------

TRUTH = {1: "one text", 2: "two text", 13: "never extracted", 110: "malformed too"}


def _row(url, doc_id, run_id=0):
    backend = backend_for(doc_id)
    if is_malformed(doc_id):
        err = check.MALFORMED_ERRORS[backend]
        return dict(url=url, doc_id=doc_id, backend=backend, file_type="image",
                    success=False, text="", markdown=ERR_IMAGE_FMT.format(err=err),
                    error=err, run_id=run_id)
    return dict(url=url, doc_id=doc_id, backend=backend, file_type="image",
                success=True, text=TRUTH[doc_id % REPLICA_STRIDE],
                markdown="", error=None, run_id=run_id)


def _case(rows):
    expected = {"a": 1, "b": 2, "c": 13, "d": 2_000_002, "e": 110}
    good = [_row(u, d) for u, d in expected.items()]
    rows = rows or good
    lineage = pa.table({"run_id": [0, 0], "n_docs": [3, len(rows) - 3]})
    return check.check_run(pa.Table.from_pylist(rows), lineage, expected, TRUTH, 0), good


def test_checker_accepts_a_correct_store():
    verdict, _ = _case(None)
    assert verdict.ok, verdict.problems
    assert verdict.written == 5
    assert verdict.identical == 3  # a, b, d; c and e are the malformed docs


def test_checker_rejects_one_changed_text_byte():
    _, good = _case(None)
    good[1]["text"] = "twO text"
    verdict, _ = _case(good)
    assert not verdict.ok
    assert "text differs" in verdict.problems[0]


def test_checker_rejects_a_duplicated_url():
    _, good = _case(None)
    verdict, _ = _case(good + [dict(good[0])])
    assert not verdict.ok
    assert any("more than once" in p for p in verdict.problems)


def test_checker_rejects_a_missing_url():
    _, good = _case(None)
    verdict, _ = _case(good[:-1])
    assert any("missing" in p for p in verdict.problems)


def test_checker_rejects_a_malformed_doc_that_succeeded():
    _, good = _case(None)
    good[2] = dict(good[2], success=True, error=None)
    verdict, _ = _case(good)
    assert any("malformed" in p for p in verdict.problems)


def test_checker_rejects_lineage_that_does_not_sum_to_the_rows():
    expected = {"a": 1}
    verdict = check.check_run(
        pa.Table.from_pylist([_row("a", 1)]), pa.table({"run_id": [0], "n_docs": [2]}),
        expected, TRUTH, 0)
    assert any("lineage" in p for p in verdict.problems)


# --- spans --------------------------------------------------------------------


def test_self_time_of_a_hand_built_tree():
    spans = [
        Span(0, None, "run", 0.0, 10.0),
        Span(1, 0, "a", 1.0, 4.0),
        Span(2, 0, "b", 3.0, 6.0),  # overlaps a: the union 1..6 counts once
        Span(3, 1, "leaf", 2.0, 3.0),
        Span(4, 0, "b", 8.0, 12.0),  # runs past its parent: clipped at 10
    ]
    own = self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert own[1] == pytest.approx(3.0 - 1.0)
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(1.0)
    assert self_time_by_name(spans)["b"] == pytest.approx(7.0)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 9)], 0, 6) == pytest.approx(4.0)
    assert covered([], 0, 6) == 0.0


def test_tracer_nests_spans_and_records_nothing_when_off():
    tracer = Tracer()
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tracer.spans] == [("outer", None), ("inner", 0)]
    off = Tracer(enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


# --- Spark SQL metric parsing ---------------------------------------------------


@pytest.mark.parametrize("text, value", [
    ("7.3 MiB", 7.3 * 2**20),
    ("total (min, med, max (stageId: taskId))\n1.1 s (1 ms, 2 ms, 3 ms (stage 3.0: task 4))", 1.1),
    ("total (min, med, max (stageId: taskId))\n255 ms (35 ms, 83 ms, 94 ms (stage 37.0: task 88))", 0.255),
    ("20,000", 20000.0),
])
def test_parse_metric(text, value):
    assert layers.parse_metric(text) == pytest.approx(value)
