"""The SQL-native tokenizer column must agree with the pure-Python
golden tokenizer on every corpus row — including multibyte 'ja' docs
and the sub-trigram edge doc."""

from searty_spark.tokenize import tokenize, trigrams_col


def test_sql_and_pandas_tokenizers_agree(small_corpus, oracle_index):
    rows = small_corpus.select("doc_id", "text", trigrams_col("text").alias("toks")).collect()
    mismatched = [r["doc_id"] for r in rows if list(r["toks"]) != tokenize(r["text"])]
    assert mismatched == []
    # and the token counts are the oracle index's doc lengths
    assert {r["doc_id"]: len(r["toks"]) for r in rows} == oracle_index.doc_len
