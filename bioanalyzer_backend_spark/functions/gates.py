"""Fused langid + perplexity gate UDF.

The two model stages consume the same truncated caption; evaluating them
in ONE pandas UDF means one Arrow JVM->Python transfer and one pass over
the batch instead of two (measured win on the flagship pipeline). It is
the only Spark entry point to the two models; every caller (the pipeline,
the langid_udf_documents registry entry) goes through
pipeline.apply_langid_ppl.
"""

from __future__ import annotations

import pandas as pd

from . import langid, perplexity

GATES_SCHEMA = "lang string, lang_conf double, ppl double"


def make_pandas_udf(langid_path: str, lm_path: str):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(GATES_SCHEMA)
    def gates_udf(caption: pd.Series) -> pd.DataFrame:
        logp, langs = langid.load_model(langid._resolve(langid_path))
        lm = perplexity.load_model(langid._resolve(lm_path))
        texts = caption.fillna("").tolist()
        lang, conf = langid.predict_batch(texts, logp, langs)
        ppl = perplexity.ppl_batch(texts, lm)
        return pd.DataFrame({"lang": lang, "lang_conf": conf, "ppl": ppl})

    return gates_udf
