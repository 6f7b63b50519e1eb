"""Seeded news-article generator and the pure-Python reference count.

Each article is one Kafka ``value``: the JSON object the reference producer
puts on the wire, including its nested ``source`` object, which the
consumer schema declares as a string. A fixed share of records is
malformed (cut off inside ``source``), so ``from_json`` yields no text for
them. Entity mentions are Zipf-skewed over the ten dictionary terms, with
a seed-chosen rank order.

Files hold one JSON value per line and are read by Spark's text source,
whose ``value`` column stands in for the Kafka value bytes.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter

# The dictionary extractor's terms: the output contract the reference count
# checks against, kept here rather than imported so the check does not move
# when the program does.
ENTITY_TERMS = (
    "batch", "customer", "join", "merge", "query",
    "spark", "stream", "table", "vector", "window",
)
_FILLER = (
    "a", "the", "agg", "big", "column", "data", "fast", "filter", "group",
    "hash", "key", "line", "order", "part", "row", "scan", "slow", "small",
    "sort", "value", "market", "report", "said", "new",
    # Near-misses the extractor must not count.
    "Spark", "STREAM", "tables", "joined", "Zürich", "naïve",
)
MALFORMED_SHARE = 0.02
ZIPF_S = 1.1


class ArticleGenerator:
    """Deterministic stream of Kafka-shaped article values for one seed."""

    def __init__(self, seed: int) -> None:
        self._rng = random.Random(seed)
        ranked = list(ENTITY_TERMS)
        self._rng.shuffle(ranked)
        self._ranked = ranked
        self._weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(ranked))]
        self._n = 0

    def _words(self, k_filler: int, k_mentions: int) -> list[str]:
        rng = self._rng
        words = rng.choices(_FILLER, k=k_filler)
        words += rng.choices(self._ranked, weights=self._weights, k=k_mentions)
        rng.shuffle(words)
        return words

    def article(self) -> str:
        rng = self._rng
        i = self._n
        self._n += 1
        title = " ".join(self._words(rng.randint(4, 9), rng.randint(0, 2)))
        desc = " ".join(self._words(rng.randint(8, 20), rng.randint(0, 3)))
        content = " ".join(self._words(rng.randint(15, 40), rng.randint(0, 5)))
        record = {
            "source": {"id": f"src-{rng.randint(0, 19)}", "name": f"Source {i % 7}"},
            "author": rng.choice(["A. Writer", "B. Reporter", None]),
            "title": title,
            "description": desc if rng.random() > 0.1 else None,
            "url": f"https://news.example/{i}",
            "publishedAt": f"2024-01-{1 + i % 28:02d}T{i % 24:02d}:00:00Z",
            "content": content if rng.random() > 0.1 else None,
            "fetchedAt": "2024-02-01T00:00:00Z",
            "query": rng.choice(["spark", "markets", "technology"]),
        }
        value = json.dumps(record)
        if rng.random() < MALFORMED_SHARE:
            # Cut inside the leading ``source`` object: no parser can
            # recover a text field from what is left.
            value = value[: rng.randint(3, value.index("}"))]
        return value

    def batch(self, n: int) -> list[str]:
        return [self.article() for _ in range(n)]


def reference_counts(values: list[str]) -> Counter:
    """Entity counts the pipeline must emit for ``values``.

    Mirrors the consumer contract: unparseable values contribute nothing;
    text is title, description and content joined by spaces with nulls
    skipped; an entity is a whole space-separated token equal to a term.
    """
    terms = frozenset(ENTITY_TERMS)
    counts: Counter = Counter()
    for value in values:
        try:
            record = json.loads(value)
        except ValueError:
            continue
        parts = [record.get(f) for f in ("title", "description", "content")]
        text = " ".join(p for p in parts if isinstance(p, str))
        counts.update(t for t in text.split(" ") if t in terms)
    return counts


def write_file(directory: str, name: str, values: list[str]) -> str:
    """Write ``values`` one per line and publish the file atomically.

    The file is written under a hidden name, which Spark's file source
    skips, then renamed into place, so a trigger never lists a partial
    file. Returns the published path.
    """
    hidden = os.path.join(directory, f".{name}.tmp")
    path = os.path.join(directory, name)
    with open(hidden, "w", encoding="utf-8") as f:
        f.write("\n".join(values))
        f.write("\n")
    os.rename(hidden, path)
    return path
