"""Output checks: correct outputs pass, corrupted ones count as errors."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import worker
from deepseek_ocr_spark import corpus, oracle
from workloads import (
    Workload,
    check_copies_dropped,
    check_semantic,
    check_spans,
    span_tuples,
)

FIELDS = ("kind", "text", "media_ref", "offset")
SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                  ("media_ref", pa.string()), ("offset", pa.int32())]))),
])


def _spans_dir(tmp_path, docs):
    """A slice-partitioned spans table as the lineage job writes it."""
    for i, (doc_id, spans) in enumerate(docs):
        part = tmp_path / "spans" / f"slice_id={i % 2}"
        part.mkdir(parents=True, exist_ok=True)
        rows = [{"doc_id": doc_id, "spans": [dict(zip(FIELDS, s)) for s in spans]}]
        pq.write_table(pa.Table.from_pylist(rows, SCHEMA), part / f"part-{i}.parquet")
    (tmp_path / "spans" / "_SUCCESS").write_text("")
    return str(tmp_path / "spans")


def _oracle_docs(n):
    out = {}
    for i in range(n):
        doc_id, spans, _ = corpus.gen_doc(7, i)
        out[doc_id] = span_tuples(oracle.oracle_spans_doc(spans)["spans"])
    return out


def test_spans_check_passes_oracle_output(tmp_path):
    expected = _oracle_docs(4)
    assert check_spans(_spans_dir(tmp_path, expected.items()), expected, 4) is None


def test_spans_check_catches_a_corrupted_span(tmp_path):
    expected = _oracle_docs(4)
    docs = dict(expected)
    victim = next(iter(docs))
    kind, text, ref, off = docs[victim][0]
    docs[victim] = [(kind, text + "!", ref, off)] + docs[victim][1:]
    error = check_spans(_spans_dir(tmp_path, docs.items()), expected, 4)
    assert error and victim in error


def test_spans_check_catches_a_missing_doc(tmp_path):
    expected = _oracle_docs(4)
    assert "3 docs of 4" in check_spans(
        _spans_dir(tmp_path, list(expected.items())[:3]), expected, 4)


def _corpus(tmp_path, ids):
    os.makedirs(tmp_path / "corpus")
    pq.write_table(pa.table({"doc_id": ids, "text": ["t"] * len(ids)}),
                   tmp_path / "corpus" / "part-0.parquet")
    return str(tmp_path / "corpus")


def test_curation_check_catches_a_surviving_copy(tmp_path):
    assert check_copies_dropped(_corpus(tmp_path, ["a", "b"]), 1) is None
    survivor = _corpus(tmp_path / "x", ["a", "b", "a" + inputs.COPY_SUFFIX])
    assert "1 of 2 planted" in check_copies_dropped(survivor, 2)
    assert check_copies_dropped(survivor, 0) == "input holds no planted copies"


def test_semantic_check():
    src, off = 1000, inputs.PLANT_ID_OFFSET
    copies = {src + off, src + 1 + off}
    hits = {(src + off, src), (src + 1 + off, src + 1)}
    assert check_semantic(set(copies), hits, copies) is None
    assert "kept 1 planted" in check_semantic({src + off}, hits, copies)
    assert "dropped 1 unplanted" in check_semantic(copies | {5}, hits, copies)
    assert "1 planted queries" in check_semantic(set(copies), {(src + off, src)}, copies)


def test_planted_copy_changes_one_word_and_nothing_the_gate_counts():
    text = "a b c\nx \\coloneqq y\nthe quick data row key spark\nline line line line"
    copy = inputs.plant_copy(text)
    assert len(copy) == len(text) and copy.count("\n") == text.count("\n")
    assert sum(a != b for a, b in zip(copy.split(), text.split())) == 1
    assert inputs.plant_copy("line line line line") is None


def test_a_failed_check_counts_as_a_failed_pass(tmp_path):
    class Stub(Workload):
        def __init__(self):
            self.first = None

        def run_pass(self, out):
            os.makedirs(out)
            return {"docs_out": len(os.listdir(tmp_path))}

        def check(self, out, result):
            return self.same_as_first(result)

    wl = Stub()
    assert worker._pass(wl, str(tmp_path / "p0"))["error"] is None
    (tmp_path / "stray").write_text("")  # the next pass's output differs
    p = worker._pass(wl, str(tmp_path / "p1"))
    assert "differ from the first pass" in p["error"]
    assert not os.path.exists(tmp_path / "p1")  # outputs are cleaned either way


def test_a_raising_pass_counts_as_a_failed_pass(tmp_path):
    class Boom(Workload):
        def __init__(self):
            pass

        def run_pass(self, out):
            raise RuntimeError("executor lost")

    p = worker._pass(Boom(), str(tmp_path / "p"))
    assert "executor lost" in p["error"] and p["wall"] >= 0
