"""Golden output of `__spark_entry__.entry(spark)`: the per-(table,
column) codec choice and the raw and encoded byte counts of the sf0.001
documents, events and embeddings tables."""

GOLDEN = [
    ("documents", "doc_id", "for_bitpack", 500, 4000, 359),
    ("documents", "lang", "dict", 500, 1000, 341),
    ("documents", "n_chars", "for_bitpack", 500, 4000, 564),
    ("documents", "source", "dict", 500, 2250, 864),
    ("documents", "text", "words", 500, 153156, 18982),
    ("embeddings", "embedding", "vec_plain", 500, 128000, 130016),
    ("embeddings", "label", "for_bitpack", 500, 4000, 251),
    ("embeddings", "vec_id", "for_bitpack", 500, 4000, 359),
    ("events", "event_id", "for_bitpack", 1000, 8000, 723),
    ("events", "event_type", "dict", 1000, 5617, 600),
    ("events", "props", "prefix", 1000, 8902, 2123),
    ("events", "ts", "for_bitpack", 1000, 8000, 4646),
    ("events", "user_id", "for_bitpack", 1000, 8000, 501),
    ("events", "value", "dec_scale", 1000, 8000, 1877),
]


def test_entry_golden(spark):
    import __spark_entry__ as e

    got = [
        (r["table"], r["column"], r["codec"], r["n_rows"], r["raw_nbytes"],
         r["enc_nbytes"])
        for r in e.entry(spark).collect()
    ]
    assert got == GOLDEN
