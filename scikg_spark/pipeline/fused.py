"""The one tag -> correct -> decode kernel behind every extraction path.

Every path that turns statements into tuples runs the same per-batch code:
a pluggable tagger (``rule``, ``probe``, ``neural``, ``ensemble``, or
``gold`` tags that arrived as columns), the correction chain applied once
(AR/TC/SH/DEL, dropping a statement when it returns ``None``), then
``post_decode`` and serialization. :func:`extract_tuples` runs it over
statements, :func:`pages_to_tuples` over raw pages, and
``stage2.tag_statements`` stops before the decode.

Chained mapInPandas operators each hold their own Python worker per task, so
a 3-deep Python chain at 32 task slots runs 96 interpreter processes and
drowns in pipe/context-switch overhead (measured: 22% sys time, 41% idle,
and 8-core runs BEATING 32-core runs on this box). Two rules follow for a
1000-executor cluster:

  1. fuse consecutive Python work into ONE mapInPandas per stage boundary
     (this module);
  2. materialize (snapshot) between stages that must stay separate — the
     runner's per-stage Iceberg/parquet checkpoints already do that, which
     also buys resumability.

Measured on local[8] -> local[32], same input: unfused 3-chain scaled at
0.22 efficiency; fused single-pass at ~0.6-0.7 (the box's pure-Python
multiprocessing ceiling is ~0.72 — VM frequency/steal bounds it).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from scikg_spark.pipeline.stage1 import statements_frame

_SPAN = "struct<text:string,start:int,end:int>"
TUPLES_SCHEMA = (
    "url string, doc_id string, stmt_id int, kind string, tuple_idx int, "
    "subj string, pred string, obj string, "
    f"s_c {_SPAN}, s_a {_SPAN}, p {_SPAN}, o_c {_SPAN}, o_a {_SPAN}"
)
_COLS = ["url", "doc_id", "stmt_id", "kind", "tuple_idx",
         "subj", "pred", "obj", "s_c", "s_a", "p", "o_c", "o_a"]

_TAGGERS = ("rule", "probe", "neural", "ensemble", "gold")
_CORRECTIONS = ("ar", "use_tc", "use_tcdel", "use_sh", "use_del")


class _RuleTagger:
    @staticmethod
    def predict_tags(batch_words, batch_pos, batch_cap):
        from scikg_spark.core.tagger import rule_tag

        return [rule_tag(w, p, c)
                for w, p, c in zip(batch_words, batch_pos, batch_cap)]


def make_tagger(mode: str, weights_path: str | None = None):
    """``mode`` -> an object with ``predict_tags(words, postags, caps) ->
    [(fact_tags, cond_tags)]``; ``None`` for ``gold``, whose tags arrive as
    columns. Built once per Python worker; in production the weight dict is
    an sc.broadcast and the model constructor loads from it."""
    if mode == "gold":
        return None
    if mode == "rule":
        return _RuleTagger()
    from scikg_spark.core.neural import (
        MimoEnsemble, MimoTagger, ProbeTagger, ensemble_from_weights,
        tagger_from_weights)

    if mode == "probe":
        return ProbeTagger.load(weights_path)
    if mode == "neural" and weights_path is not None:
        # the checkpoint's own flags decide the model config
        return tagger_from_weights(weights_path)
    if mode == "ensemble" and weights_path is not None:
        return ensemble_from_weights(weights_path)
    return MimoEnsemble() if mode == "ensemble" else MimoTagger()


def _check_corrections(corrections: dict) -> None:
    unknown = set(corrections) - set(_CORRECTIONS)
    if unknown:
        raise TypeError(f"unknown correction flags {sorted(unknown)}")


def tagger_input(statements: DataFrame, mode: str, gold: DataFrame | None,
                 weights_path: str | None, corrections: dict) -> DataFrame:
    """Validate a tagging request and return the frame the kernel reads:
    the statements themselves, or — in gold mode — the statements with the
    pre-collapsed gold tag columns broadcast-joined on (doc_id, stmt_id)."""
    if mode not in _TAGGERS:
        raise ValueError(f"unknown tagger mode {mode!r}")
    _check_corrections(corrections)
    if weights_path is not None and mode not in ("neural", "probe", "ensemble"):
        raise ValueError(
            "weights_path requires mode='neural', 'probe' or 'ensemble'")
    if mode == "probe" and weights_path is None:
        raise ValueError("probe mode needs a trained weights_path")
    if mode != "gold":
        return statements
    if gold is None:
        raise ValueError("gold mode needs a gold DataFrame")
    return statements.join(
        F.broadcast(gold.select("doc_id", "stmt_id", "fact_tags", "cond_tags")),
        on=["doc_id", "stmt_id"], how="inner",
    ).select("url", "doc_id", "stmt_id", "words", "postags", "caps",
             "fact_tags", "cond_tags")


def tagged_rows(pdf: pd.DataFrame, tagger, corrections: dict):
    """Tag one statements batch and apply ``correct_tags`` once. Yields
    ``(row position, words, fact_tags, cond_tags)`` per kept statement."""
    from scikg_spark.core.correct import correct_tags

    words = [list(w) for w in pdf["words"]]
    postags = [list(p) for p in pdf["postags"]]
    if tagger is None:
        tags = zip(map(list, pdf["fact_tags"]), map(list, pdf["cond_tags"]))
    else:
        tags = tagger.predict_tags(
            words, postags, [list(c) for c in pdf["caps"]])
    correcting = (corrections.get("ar") is not None
                  or any(v for k, v in corrections.items() if k != "ar"))
    for i, (w, p, (ft, ct)) in enumerate(zip(words, postags, tags)):
        if correcting:
            res = correct_tags(ft, ct, [x.lower() for x in w], p, **corrections)
            if res is None:
                continue
            ft, ct = res
        yield i, w, ft, ct


def _span_dict(slot):
    from scikg_spark.core.decoder import NIL

    if slot == NIL:
        return None
    return {"text": slot[0], "start": slot[1], "end": slot[2]}


def _decode_rows(url, doc_id, stmt_id, words, fact_tags, cond_tags):
    from scikg_spark.core.decoder import post_decode
    from scikg_spark.core.serialize import serialize_tuple

    out = []
    for kind, tags in (("f", fact_tags), ("c", cond_tags)):
        for idx, rec in enumerate(post_decode(words, tags)):
            subj, pred, obj = serialize_tuple(rec)
            out.append((
                url, doc_id, stmt_id, kind, idx + 1, subj, pred, obj,
                _span_dict(rec[0]), _span_dict(rec[1]), _span_dict(rec[2]),
                _span_dict(rec[3]), _span_dict(rec[4])))
    return out


def _tuples_gen(mode: str, weights_path: str | None, corrections: dict):
    """The mapInPandas function: statements batches -> tuples batches."""
    def gen(batches):
        tagger = make_tagger(mode, weights_path)
        for pdf in batches:
            if not len(pdf):
                continue  # empty batches degrade list cols to float64 (Arrow)
            url, doc_id, stmt_id = (pdf[c].tolist()
                                    for c in ("url", "doc_id", "stmt_id"))
            rows = []
            for i, words, ft, ct in tagged_rows(pdf, tagger, corrections):
                rows.extend(_decode_rows(
                    url[i], doc_id[i], stmt_id[i], words, ft, ct))
            if rows:
                yield pd.DataFrame(rows, columns=_COLS)

    return gen


def extract_tuples(statements: DataFrame, tagger: str = "rule",
                   gold: DataFrame | None = None,
                   weights_path: str | None = None,
                   **corrections) -> DataFrame:
    """statements -> tuples: tag + correct + decode in ONE Python pass.

    ``tagger`` is ``rule``, ``probe``, ``neural``, ``ensemble`` or
    ``gold``; ``probe`` needs a trained ``weights_path``, ``gold`` a gold
    tags frame. ``corrections`` are the ``correct_tags`` flags (``ar``,
    ``use_tc``, ``use_tcdel``, ``use_sh``, ``use_del``)."""
    src = tagger_input(statements, tagger, gold, weights_path, corrections)
    return src.mapInPandas(_tuples_gen(tagger, weights_path, corrections),
                           schema=TUPLES_SCHEMA)


def pages_to_tuples(pages: DataFrame, lang: str | None = "en",
                    **corrections) -> DataFrame:
    """pages -> tuples in ONE Python pass (extract_text + parse, then the
    rule-tagger kernel). The no-checkpoint fast path for read-through
    queries; the checkpointing runner keeps the two-pass form for
    resumability."""
    _check_corrections(corrections)
    if lang is not None:
        pages = pages.filter(F.col("lang") == lang)
    kernel = _tuples_gen("rule", None, corrections)

    def gen(batches):
        return kernel(statements_frame(pdf) for pdf in batches)

    return pages.select("url", "html").mapInPandas(gen, schema=TUPLES_SCHEMA)
