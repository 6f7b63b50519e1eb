"""Text chunking — the Python UDTF surface (one input row → n table rows).

The third user-function plane next to the scalar pandas UDF (U1,
/root/reference/app/spark_entity_counter.py:84-87) and
``applyInPandasWithState``: a table function for splitting documents into
fixed-size token windows, the canonical pre-training preprocessing step
(context-window packing). The reference has no UDTF (SURVEY.md §2.4); this
pins the engine's pattern for one.

Scale shape: a UDTF is a per-row Python generator — fine for fan-out
logic, but at 100 TB prefer pure column expressions (slice/transform over
the token array, fully codegen'd, no Python workers) unless the chunking
logic genuinely needs Python. The catalog entry runs the UDTF so the
surface is exercised and checked.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="chunk_idx int, chunk string, n_tokens int")
class ChunkText:
    """Split whitespace-tokenized text into fixed-size token chunks.

    Generator contract mirrors the reference's fail-soft explode shape:
    empty/null text yields no rows (like explode over an empty array,
    spark_entity_counter.py:136).
    """

    def eval(self, text: str, chunk_tokens: int):
        if not text:
            return
        toks = [t for t in text.split(" ") if t]
        for i in range(0, len(toks), chunk_tokens):
            window = toks[i : i + chunk_tokens]
            yield i // chunk_tokens, " ".join(window), len(window)


@udtf(
    returnType=(
        "lang string, n_docs int, first_doc bigint, last_doc bigint, "
        "total_tokens bigint"
    )
)
class LangPartitionSummary:
    """Aggregating UDTF over a ``TABLE(...) PARTITION BY lang ORDER BY
    doc_id`` argument — the Spark-4 table-argument plane the lateral-form
    ``ChunkText`` doesn't touch: the engine shuffles the input on the
    PARTITION BY key, feeds ONE partition's rows to ``eval`` in ORDER BY
    order, and calls ``terminate`` once per partition for the summary row.

    The work inside is deliberately a plain GROUP BY twin (count / first /
    last / token sum) so a DuckDB oracle can replay it exactly — what the
    surface buys over groupBy().agg() is *ordered, stateful* per-group
    Python (sessionizers, legacy per-group parsers) when expressions can't
    express it. Scale: one shuffle on the partition key, state is O(1) per
    partition; a skewed key funnels that key's rows through one worker —
    same salting discipline as any groupBy applies.
    """

    def __init__(self) -> None:
        self._lang = None
        self._n = 0
        self._first = None
        self._last = None
        self._tokens = 0

    def eval(self, row) -> None:
        self._lang = row["lang"]
        if self._first is None:
            self._first = row["doc_id"]
        self._last = row["doc_id"]
        self._n += 1
        self._tokens += int(row["n_toks"])

    def terminate(self):
        if self._n:
            yield self._lang, self._n, self._first, self._last, self._tokens

