"""The benchmark's workloads: input size and the operations of one pass.

Every workload reads a ``documents`` table of ``n_docs`` rows cut from the
shipped sf0.1 corpus (``inputs.py``) and its pages table
(``sources.pagesgen.build_pages``). ``replicas`` > 0 makes the extraction
workload: the pages table copied ``replicas`` times under ``url#rN`` into
``n_files`` parquet files. ``queries`` name registry queries
(``__spark_entry__.queries()``), each checked against its ``oracle_sql()``
twin.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    n_docs: int
    replicas: int = 0
    n_files: int = 0
    queries: tuple[str, ...] = ()


#: which layer (module group) each query exercises
LAYER = {
    "extract_tables_lattice": "operators",
    "extract_tables_relational": "operators",
    "pdf_words": "operators",
    "layout_page_text": "operators",
    "dedup_minhash_lsh": "functions",
    "dedup_ngram_jaccard": "functions",
    "dedup_substring_winnowed": "functions",
    "curation_c4_line_dedup": "functions",
    "text_langid": "functions",
}

WORKLOADS = {
    "extract_text": Workload(n_docs=5000, replicas=8, n_files=16),
    "queries": Workload(
        n_docs=300,
        queries=(
            "extract_tables_lattice",
            "extract_tables_relational",
            "pdf_words",
            "layout_page_text",
            "dedup_minhash_lsh",
            "dedup_ngram_jaccard",
            "dedup_substring_winnowed",
            "curation_c4_line_dedup",
            "text_langid",
        ),
    ),
}


def docs_read(query: str, doc_ids: list[int]) -> int:
    """Input documents one execution of ``query`` reads."""
    from pdfplumber_golang_spark import spec

    if query in ("extract_tables_lattice", "extract_tables_relational"):
        return sum(d % 10 == 6 for d in doc_ids)  # the ruled-table subset
    if query == "pdf_words":
        return sum(spec.variant_of(d).startswith("pdf_") for d in doc_ids)
    return len(doc_ids)
