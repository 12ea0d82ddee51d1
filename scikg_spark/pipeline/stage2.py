"""Stage 2: statements -> tagged statements (tags only).

Tagging and correction (AR/TC/SH/DEL as pipeline flags, mirroring
self_train/self_train.py:49-53) run inside ONE mapInPandas pass through the
shared kernel in :mod:`scikg_spark.pipeline.fused`, with broadcast-sized
rule state in the closure — no shuffle, no per-row Python outside the
batch loop. Consumers that want tuples call ``fused.extract_tuples``, which
decodes in the same pass; this module serves the consumers that need the
tags themselves (training, pseudo-labeling, tag-level evaluation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from scikg_spark.core.correct import ARCorrecter
from scikg_spark.pipeline.fused import make_tagger, tagged_rows, tagger_input

TAGGED_SCHEMA = (
    "url string, doc_id string, stmt_id int, "
    "words array<string>, postags array<string>, caps array<string>, "
    "fact_tags array<string>, cond_tags array<string>"
)


def tag_statements(
    statements: DataFrame,
    mode: str = "rule",
    gold: DataFrame | None = None,
    ar: ARCorrecter | None = None,
    use_tc: bool = False,
    use_tcdel: bool = False,
    use_sh: bool = False,
    use_del: bool = False,
    weights_path: str | None = None,
) -> DataFrame:
    """Attach ``fact_tags``/``cond_tags``.

    mode='gold': broadcast-join pre-collapsed gold rows on (doc_id, stmt_id)
    — the P/R gate path. mode='rule': deterministic mention-role tagger;
    'probe'/'neural'/'ensemble': the model taggers. Correction flags drop
    statements exactly like the reference's pseudo-labeling filter chain
    (self_train.py:117-203).
    """
    corrections = dict(ar=ar, use_tc=use_tc, use_tcdel=use_tcdel,
                       use_sh=use_sh, use_del=use_del)
    src = tagger_input(statements, mode, gold, weights_path, corrections)

    def gen(batches):
        tagger = make_tagger(mode, weights_path)
        for pdf in batches:
            if not len(pdf):
                continue  # empty batches degrade list cols to float64 (Arrow)
            keep, fact, cond = [], [], []
            for i, _, ft, ct in tagged_rows(pdf, tagger, corrections):
                keep.append(i)
                fact.append(ft)
                cond.append(ct)
            if keep:
                yield pdf.iloc[keep].assign(fact_tags=fact, cond_tags=cond)

    return src.mapInPandas(gen, schema=TAGGED_SCHEMA)
