"""Persisted fulltext index with incremental maintenance.

Reference: sql/fulltext/fulltext.go (per-index bookkeeping tables created
at CREATE FULLTEXT INDEX time) and sql/fulltext/multi_editor.go (the DML
editor that keeps them in sync on every insert/update/delete). The
reference maintains four side tables (config, position, doc_count,
global_count); the Spark-native equivalent is ONE postings DataFrame

    (word STRING, k <key type>, tf BIGINT)

because relevance (sum of term frequencies, the engine's documented
natural-language model — see plans/json_fulltext.py) needs only the
per-(doc, word) count; doc/global counts are aggregations of it that
Catalyst computes on demand.

Scale posture: building is tokenize → explode → groupBy(k, word) — one
map-side-combined shuffle whose output is a fraction of the corpus.
Incremental insert is an anti-join on the delta's keys plus postings of
the delta only (O(delta), not O(corpus)). On a cluster the postings
frame would live as a parquet table bucketed by `word` so a MATCH query
prunes to its terms' buckets; locally it is localCheckpoint-ed every few
maintenance ops to keep lineage bounded.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

# matches the whitespace tokenizer the corpus oracle entries use
# (plans/json_fulltext.py: split(lower(trim(text)), ' +'))
_CHECKPOINT_EVERY = 8

# words longer than this are not indexed and can never match
# (reference sql/fulltext/schema.go:24 maxWordLength = 84)
MAX_WORD_LENGTH = 84


def tokenize(col):
    return F.split(F.lower(F.trim(col)), " +")


def build_postings(df: DataFrame, key_col: str,
                   text_cols: tuple[str, ...]) -> DataFrame:
    """(word, k, tf) postings for every row of `df`. Multi-column indexes
    tokenize the space-joined concatenation, like the reference's
    multi-column FULLTEXT keys."""
    text = (F.col(text_cols[0]) if len(text_cols) == 1
            else F.concat_ws(" ", *[F.coalesce(F.col(c).cast("string"),
                                               F.lit("")) for c in text_cols]))
    return (
        df.select(F.col(key_col).alias("k"),
                  F.explode(tokenize(text)).alias("word"))
        .filter((F.col("word") != "")
                & (F.length("word") <= MAX_WORD_LENGTH))
        .groupBy("k", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@dataclass
class FulltextIndex:
    """One FULLTEXT index on (table, column), keyed by the table's PK."""

    name: str
    columns: tuple[str, ...]
    key: str
    postings: DataFrame
    base_version: int          # TableState.changes the postings reflect
    view: str = ""             # temp-view name once registered
    ops_since_checkpoint: int = 0
    pending_rebuild: bool = False

    def apply_insert(self, incoming: DataFrame) -> None:
        """Incremental maintenance for INSERT/REPLACE: drop any postings
        for the incoming keys (REPLACE overwrites rows), append postings
        tokenized from the delta alone — O(delta) work, never a corpus
        re-scan (reference multi_editor.go Insert/Delete row hooks)."""
        delta_keys = incoming.select(
            F.col(self.key).alias("k")).distinct()
        self.postings = (
            self.postings.join(delta_keys, "k", "left_anti")
            .unionByName(build_postings(incoming, self.key, self.columns))
        )
        self.ops_since_checkpoint += 1

    def rebuild(self, df: DataFrame) -> None:
        """Full rebuild — the fallback for mutations whose delta the
        engine didn't thread through (UPDATE/DELETE/ALTER)."""
        self.postings = build_postings(df, self.key, self.columns)
        self.ops_since_checkpoint += 1
        self.pending_rebuild = False

    def checkpoint_if_due(self) -> None:
        if self.ops_since_checkpoint >= _CHECKPOINT_EVERY:
            self.postings = self.postings.localCheckpoint(eager=True)
            self.ops_since_checkpoint = 0


def parse_boolean_query(text: str) -> tuple[list[str], list[str], list[str]]:
    """'+spark -window join' → (required, excluded, optional) term lists
    (reference fulltext boolean-mode parser in matchagainst.go)."""
    required, excluded, optional = [], [], []
    for tok in text.split():
        if tok.startswith("+") and len(tok) > 1:
            required.append(tok[1:].lower())
        elif tok.startswith("-") and len(tok) > 1:
            excluded.append(tok[1:].lower())
        else:
            optional.append(tok.lstrip("+-").lower())
    return required, excluded, optional
