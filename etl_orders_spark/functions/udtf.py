"""Python UDTF (Spark 4 user-defined table function): the row→rows
expansion surface, demonstrated on the document chunker.

A UDTF is the right tool when one input row fans out into a variable
number of output rows AND the expansion logic is genuinely imperative
(parsers, tokenizers with carry-over state, decoders). For the chunker
the relational form (plans/text_queries.chunk_docs_windows — explode a
sequence, slice arrays) stays the production path: it runs JVM-side in
whole-stage codegen, while a UDTF crosses the Arrow boundary per row
batch. This twin exists to (a) exercise the API end to end and (b)
prove the two forms agree bit-for-bit — the registered query reuses
the relational form's DuckDB oracle unchanged.

Pickling: the class is factory-local, so cloudpickle ships it by value
and bare-session workers need no package import (the repo-wide rule
for every Python-executed body).

Tokenization mirrors functions/text.tokens exactly: regex-trim \\s at
the edges, split on \\s+, with ASCII \\s semantics (Python's re
defaults \\s to Unicode — re.ASCII is load-bearing; Java and DuckDB
are ASCII here, and U+00A0 must NOT split).
"""

from __future__ import annotations


def _build():
    import re

    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "doc_id bigint, chunk_idx bigint, n_chunk_tokens bigint, chunk_text string"
        )
    )
    class ChunkDocsUDTF:
        def eval(self, doc_id, text, w, s):
            t = re.sub(r"^\s+|\s+$", "", text or "", flags=re.ASCII)
            toks = re.split(r"\s+", t, flags=re.ASCII) if t else []
            n = len(toks)
            if n == 0:
                return
            kmax = (max(n - w, 0) + s - 1) // s
            for k in range(kmax + 1):
                sl = toks[k * s : k * s + w]
                yield doc_id, k, len(sl), " ".join(sl)

    return ChunkDocsUDTF


ChunkDocsUDTF = _build()


def register_chunk_udtf(spark) -> None:
    """Install the UDTF as ``chunk_docs`` for SQL lateral use:
    SELECT c.* FROM docs d, LATERAL chunk_docs(d.doc_id, d.text, 32, 24) c
    """
    spark.udtf.register("chunk_docs", ChunkDocsUDTF)
