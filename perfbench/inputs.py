"""The benchmark's ``documents`` tables, cut from the shipped sf0.1 corpus.

``data/documents.parquet`` is the engine's sf0.1 ``documents`` table
(5,000 rows of ``doc_id, text, lang, source, n_chars``), shipped with the
benchmark because a run reads only inside its checkout. Every page payload
is a pure function of ``(doc_id, text)`` (``spec.py``).

A workload that reads fewer documents takes a fixed pick of them that keeps
the corpus's near-duplicate share: ~4.9% of the rows are another row's text
plus `` dup``, and both rows of each such pair are picked together. A
uniform sample would lose almost every pair (a prefix of 300 rows holds
none). The pick is the same in every run; the seed only orders the rows.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq

SHIPPED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
DUP_SUFFIX = " dup"


def pick(table, n_docs: int) -> list[int]:
    """Row indices of a fixed ``n_docs``-row pick with the table's share of
    near-duplicate pairs."""
    if n_docs >= table.num_rows:
        return list(range(table.num_rows))
    texts = table.column("text").to_pylist()
    row_of = {t: i for i, t in enumerate(texts)}
    pairs = [
        (i, row_of[t[: -len(DUP_SUFFIX)]])
        for i, t in enumerate(texts)
        if t.endswith(DUP_SUFFIX) and t[: -len(DUP_SUFFIX)] in row_of
    ]
    rng = random.Random(0)
    chosen: set[int] = set()
    n_dups = round(n_docs * len(pairs) / table.num_rows)
    for dup, original in rng.sample(pairs, len(pairs)):
        if len(chosen) + 2 > 2 * n_dups or len(chosen) + 2 > n_docs:
            break
        chosen.update((dup, original))
    rest = [
        i for i, t in enumerate(texts) if i not in chosen and not t.endswith(DUP_SUFFIX)
    ]
    chosen.update(rng.sample(rest, n_docs - len(chosen)))
    return sorted(chosen)


def write_documents(path: str, n_docs: int, seed: int) -> list[int]:
    """Write ``n_docs`` documents to ``path`` in the seed's row order and
    return their ``doc_id``s."""
    table = pq.read_table(SHIPPED)
    rows = pick(table, n_docs)
    random.Random(seed).shuffle(rows)
    part = table.take(rows)
    pq.write_table(part, path)
    return part.column("doc_id").to_pylist()
