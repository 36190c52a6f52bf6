"""Schemas and reference-semantics constants.

Every constant is copied byte-exactly from the reference's behavior
(file:line cited) — goldens diverge on a single byte otherwise.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# --- reference constants -------------------------------------------------

# Grounding-span pattern: run_dpsk_ocr_pdf.py:124 (identical at
# run_dpsk_ocr_image.py:46, run_dpsk_ocr_eval_batch.py:71). Group 1 = full
# block, 2 = label, 3 = det payload. Callers use re.DOTALL.
REF_PATTERN = r"(<\|ref\|>(.*?)<\|/ref\|><\|det\|>(.*?)<\|/det\|>)"

# EOS sentinel with FULLWIDTH VERTICAL LINE (U+FF5C) and LOWER ONE EIGHTH
# BLOCK (U+2581) — run_dpsk_ocr_pdf.py:289. Not ASCII; copy byte-exact.
EOS_SENTINEL = "<｜end▁of▁sentence｜>"

# Page separator: run_dpsk_ocr_pdf.py:296-298 — page text is emitted as
# `content + "\n" + PAGE_SPLIT + "\n"`.
PAGE_SPLIT = "\n<--- Page Split --->"

# Media rewrite target: run_dpsk_ocr_pdf.py:311 — trailing newline included.
MEDIA_REF_TEMPLATE = "![](images/{page}_{idx}.jpg)\n"

# Virtual coordinate grid for <|det|> boxes: run_dpsk_ocr_pdf.py:177-181.
COORD_GRID = 999

# Media label: run_dpsk_ocr_pdf.py:131 classifies on the *full block*
# containing this exact substring.
MEDIA_REF_MARKER = "<|ref|>image<|/ref|>"

# No-repeat-ngram defaults: run_dpsk_ocr_pdf.py:46 (ngram=20, window=50,
# whitelist = {<td>, </td>} token ids 128821/128822 → we whitelist the
# literal cell strings at the text level).
NGRAM_SIZE = 20
NGRAM_WINDOW = 50
NGRAM_WHITELIST_SUBSTRINGS = ("<td>", "</td>")

# --- Spark schemas --------------------------------------------------------

# input_hint: (doc_id:string, spans:array<struct<kind,text,media_ref,offset:int32>>)
SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType(), True),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), True),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT), True),
    ]
)

# Raw multi-page form — one row per (doc, page) carrying the model-output
# text exactly as the reference's post-process loop receives it
# (run_dpsk_ocr_pdf.py:286-287). The engine ingests either shape.
PAGES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("page_no", IntegerType(), False),
        StructField("content", StringType(), True),
    ]
)
