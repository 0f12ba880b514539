"""Mention detection + entity linking against a broadcast alias dictionary.

North-rule machinery: candidate n-grams are generated with higher-order
array functions (no shuffle, no python), then equi-joined against the
broadcast alias dictionary — the Spark-native generalization of the
reference's per-distinct-key reconciliation cache
(template_state.py:71-78, reconcile.py:23-43): the join IS the cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_mapper_spark.ops.text import ngrams_col


def detect_mentions(pages: DataFrame, text_col: str = "text",
                    max_ngram: int = 2) -> DataFrame:
    """pages -> (url, mention) candidate surface forms (lowercased n-grams)."""
    tokens = F.split(F.lower(F.col(text_col)), r"[^\p{L}\p{N}]+")
    grams = [ngrams_col(tokens, n) for n in range(1, max_ngram + 1)]
    all_grams = F.concat(*grams) if len(grams) > 1 else grams[0]
    return pages.select(
        "url", F.explode(all_grams).alias("mention")
    ).where(F.col("mention") != "")


def link_entities(pages: DataFrame, aliases: DataFrame,
                  text_col: str = "text", max_ngram: int = 2,
                  broadcast_dict: bool = True) -> DataFrame:
    """-> (url, mention, entity_iri, entity_type) via broadcast hash join.

    The alias dictionary is the small dimension (north rule: broadcast it);
    hot aliases (popular entities) skew the join output, which downstream
    dedup handles with salting + AQE.

    The n-gram explode feeds the broadcast-hash-join probe inside the SAME
    whole-stage-codegen stage: misses are discarded immediately and nothing
    reaches a shuffle, so candidate volume is a CPU cost only — and the
    hash probe is the cheapest membership test available.
    """
    mentions = detect_mentions(pages, text_col=text_col, max_ngram=max_ngram)
    # broadcast_dict=False is the escape hatch for dictionaries too big for
    # executor memory (~100M+ aliases at web scale): fall back to a shuffle
    # hash join on the mention/alias key. Candidate n-grams then DO hit the
    # wire. Identical output either way (tested).
    # the shuffle_hash hint is required, not just the absence of
    # broadcast(): under autoBroadcastJoinThreshold the optimizer would
    # silently re-broadcast a small dictionary and the test/plan contract
    # ("no broadcast in this regime") would not hold at the size boundary
    dict_side = (F.broadcast(aliases) if broadcast_dict
                 else aliases.hint("shuffle_hash"))
    return mentions.join(
        dict_side, mentions["mention"] == aliases["alias"], "inner"
    ).select("url", "mention", "entity_iri", "entity_type")
