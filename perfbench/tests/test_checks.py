"""Self-test of the output checks: one perturbed output is one failure."""

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from checks import attempt, check_extract, check_query, vhash  # noqa: E402

EXPECTED = {
    "texts": {"https://h.example/doc0": "a b\nc", "https://h.example/doc1": "d"},
    "malformed": ["https://h.example/doc13"],
}


def outputs(replicas: int):
    texts = {f"{u}#r{r}": t for u, t in EXPECTED["texts"].items() for r in range(replicas)}
    errors = [f"https://h.example/doc13#r{r}" for r in range(replicas)]
    return texts, errors


def test_extract_outputs_as_expected_pass():
    texts, errors = outputs(2)
    assert check_extract(texts, errors, EXPECTED, 2) == (6, 0)


def test_one_perturbed_text_is_one_failure():
    texts, errors = outputs(2)
    texts["https://h.example/doc0#r1"] += " "
    assert check_extract(texts, errors, EXPECTED, 2) == (6, 1)


def test_missing_or_doubled_error_row_is_one_failure():
    texts, errors = outputs(2)
    assert check_extract(texts, errors[:1], EXPECTED, 2) == (6, 1)
    assert check_extract(texts, errors + errors[:1], EXPECTED, 2) == (6, 1)


def test_one_perturbed_query_row_fails_the_query():
    frame = pd.DataFrame({"url": ["a", "b"], "n": [1, 2]})
    expected = {"rows": 2, "hash": vhash(frame.iloc[::-1])}
    assert check_query(frame, expected)
    assert not check_query(frame.assign(n=[1, 3]), expected)


def test_an_operation_that_raises_fails_all_its_operations():
    def boom():
        raise RuntimeError("query failed")

    failed, ok, error = attempt(boom, 6)
    assert (failed, ok, type(error)) == (6, True, RuntimeError)
    assert attempt(lambda: (1, False), 6) == (1, False, None)
