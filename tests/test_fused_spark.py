"""The one extraction kernel against a pure-driver decode through ``core``:
every tagger mode and both entry points (statements, raw pages) must emit
exactly the tuple multiset of rule_tag/model -> correct_tags -> post_decode
-> serialize_tuple run statement by statement on the driver."""

import pytest

from scikg_spark.core.correct import correct_tags
from scikg_spark.core.decoder import post_decode
from scikg_spark.core.serialize import serialize_tuple
from scikg_spark.core.tagger import rule_tag
from scikg_spark.pipeline.fused import extract_tuples, pages_to_tuples
from scikg_spark.pipeline.stage1 import build_pages_from_documents, extract_statements
from scikg_spark.pipeline.stage2 import tag_statements

SF_DIR = "/root/testdata/sf0.001"
CORRECTIONS = {"use_tc": True, "use_sh": True, "use_del": True}


def _key(r):
    return (r.url, r.stmt_id, r.kind, r.tuple_idx, r.subj, r.pred, r.obj)


def _driver_decode(rows, tags, **corrections):
    """Reference: ``tags[i]`` for statement ``rows[i]``, corrected and
    decoded on the driver."""
    out = []
    for r, (ft, ct) in zip(rows, tags):
        words = list(r.words)
        if corrections:
            res = correct_tags(ft, ct, [w.lower() for w in words],
                               list(r.postags), **corrections)
            if res is None:
                continue
            ft, ct = res
        for kind, kind_tags in (("f", ft), ("c", ct)):
            for idx, rec in enumerate(post_decode(words, kind_tags)):
                out.append((r.url, r.stmt_id, kind, idx + 1,
                            *serialize_tuple(rec)))
    return sorted(out)


def _rule_tags(rows):
    return [rule_tag(list(r.words), list(r.postags), list(r.caps))
            for r in rows]


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(120)
    pages = build_pages_from_documents(docs).cache()
    stmts = extract_statements(pages).cache()
    rows = stmts.collect()
    return pages, stmts, rows


def test_rule_kernel_equals_driver_decode(corpus):
    pages, stmts, rows = corpus
    want = _driver_decode(rows, _rule_tags(rows))
    assert want
    assert sorted(map(_key, extract_tuples(stmts).collect())) == want
    assert sorted(map(_key, pages_to_tuples(pages).collect())) == want


def test_rule_kernel_with_corrections(corpus):
    pages, stmts, rows = corpus
    want = _driver_decode(rows, _rule_tags(rows), **CORRECTIONS)
    fused = sorted(map(_key, extract_tuples(stmts, **CORRECTIONS).collect()))
    assert fused == want
    assert sorted(map(_key, pages_to_tuples(pages, **CORRECTIONS).collect())) \
        == want
    assert 0 < len(fused) < len(_driver_decode(rows, _rule_tags(rows)))


def test_tag_statements_uses_the_same_kernel(corpus):
    """Tags from stage 2, decoded on the driver, give the kernel's tuples."""
    _, stmts, rows = corpus
    tagged = tag_statements(stmts, mode="rule", **CORRECTIONS).collect()
    got = _driver_decode(
        tagged, [(list(r.fact_tags), list(r.cond_tags)) for r in tagged])
    assert got == _driver_decode(rows, _rule_tags(rows), **CORRECTIONS)


@pytest.mark.parametrize("corrections", [{}, CORRECTIONS],
                         ids=["plain", "corrected"])
def test_gold_tagger_equals_driver_decode(spark, corpus, corrections):
    """The gold join path without the reference corpus: gold tags are the
    driver-side rule tags of ~60 docs, joined back on (doc_id, stmt_id)."""
    from scikg_spark.pipeline.gold import GOLD_DDL

    _, stmts, rows = corpus
    doc_ids = sorted({r.doc_id for r in rows})[:60]
    rows = [r for r in rows if r.doc_id in doc_ids]
    tags = _rule_tags(rows)
    gold = spark.createDataFrame(
        [(r.doc_id, r.stmt_id, ft, ct) for r, (ft, ct) in zip(rows, tags)],
        schema=GOLD_DDL)
    got = extract_tuples(stmts, tagger="gold", gold=gold, **corrections)
    want = _driver_decode(rows, tags, **corrections)
    assert want
    assert sorted(map(_key, got.collect())) == want


def test_probe_kernel_equals_driver_decode(spark, tmp_path):
    from scikg_spark.core.neural import ProbeTagger
    from scikg_spark.core.tags import COND_TAG2ID, FACT_TAG2ID

    # tiny trained probe
    probe = ProbeTagger(seed=824)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    stmts = extract_statements(build_pages_from_documents(docs)).cache()
    rows = stmts.collect()
    w = [list(r["words"]) for r in rows]
    p = [list(r["postags"]) for r in rows]
    c = [list(r["caps"]) for r in rows]
    yf = [[FACT_TAG2ID[t] for t in rule_tag(a, b, d)[0]] for a, b, d in zip(w, p, c)]
    yc = [[COND_TAG2ID[t] for t in rule_tag(a, b, d)[1]] for a, b, d in zip(w, p, c)]
    for _ in range(4):
        probe.train_step(w, p, c, yf, yc)
    path = str(tmp_path / "probe.npz")
    probe.save(path)

    fused = extract_tuples(stmts, tagger="probe", weights_path=path).collect()
    want = _driver_decode(rows, ProbeTagger.load(path).predict_tags(w, p, c))
    assert sorted(map(_key, fused)) == want
    assert len(fused) > 0


def test_bad_requests_fail_on_the_driver(corpus):
    _, stmts, _ = corpus
    with pytest.raises(ValueError, match="probe mode"):
        extract_tuples(stmts, tagger="probe")
    with pytest.raises(ValueError, match="gold mode"):
        extract_tuples(stmts, tagger="gold")
    with pytest.raises(ValueError, match="unknown tagger"):
        extract_tuples(stmts, tagger="oracle")
    with pytest.raises(TypeError, match="use_tx"):
        extract_tuples(stmts, use_tx=True)
