"""Output checks shared by the benchmark and its DuckDB oracle process."""

from __future__ import annotations

import hashlib


def vhash(frame) -> str:
    """Order-insensitive value hash of a pandas frame (columns by name),
    the comparison ``scripts/full_gate.py`` makes against ``oracle_sql()``."""
    frame = frame[sorted(frame.columns)]
    rows = sorted(tuple(str(v) for v in r) for r in frame.itertuples(index=False))
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def check_extract(
    texts: dict[str, str], error_urls: list[str], expected: dict, replicas: int
) -> tuple[int, int]:
    """(documents attempted, documents failed) for one extraction pass.

    ``texts`` maps each ``url#rN`` in ``doc_text``'s output to its text and
    ``error_urls`` lists the url of every error row. A document passes when
    it is well-formed and its text equals its base url's golden with no error
    row, or it is malformed and has exactly one error row and no text.
    """
    golden, malformed = expected["texts"], set(expected["malformed"])
    n_err: dict[str, int] = {}
    for url in error_urls:
        n_err[url] = n_err.get(url, 0) + 1
    attempted = replicas * (len(golden) + len(malformed))
    ok = 0
    for r in range(replicas):
        for base, text in golden.items():
            url = f"{base}#r{r}"
            ok += texts.get(url) == text and url not in n_err
        for base in malformed:
            url = f"{base}#r{r}"
            ok += n_err.get(url) == 1 and url not in texts
    return attempted, attempted - ok


def check_query(frame, expected: dict) -> bool:
    return len(frame) == expected["rows"] and vhash(frame) == expected["hash"]


def attempt(fn, size: int) -> tuple[int, bool, Exception | None]:
    """Run one operation ``fn() -> (failed, ok)`` of ``size`` operations:
    (failed, ok, the exception it raised). An operation that raises counts
    all ``size`` as failed and leaves ``ok`` true, because ``ok`` speaks only
    of outputs that came back; ``failed`` shows the raise."""
    try:
        failed, ok = fn()
    except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
        return size, True, e
    return failed, ok, None
