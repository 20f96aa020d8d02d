"""Langid + perplexity model tests: accuracy, determinism, junk separation."""

import numpy as np
import os

from bioanalyzer_backend_spark import spec
from bioanalyzer_backend_spark.functions import langid, perplexity


def test_langid_accuracy(synth_images, artifacts_dir):
    logp, langs = langid.load_model(os.path.join(artifacts_dir, "langid.npz"))
    pred, conf = langid.predict_batch(synth_images["caption"].tolist(),
                                      logp, langs)
    m = synth_images.assign(pred=pred, conf=conf)
    real = m[m["true_lang"].isin(spec.LANGS)
             & (m["caption"].str.strip().str.len() > 10)]
    acc = (real["pred"] == real["true_lang"]).mean()
    assert acc >= 0.98, f"langid accuracy {acc}"


def test_langid_deterministic(artifacts_dir):
    logp, langs = langid.load_model(os.path.join(artifacts_dir, "langid.npz"))
    texts = ["the small dog on the beach", "el perro pequeño", ""]
    a = langid.predict_batch(texts, logp, langs)
    b = langid.predict_batch(texts, logp, langs)
    assert list(a[0]) == list(b[0])
    assert np.array_equal(a[1], b[1])


def test_ppl_separates_junk(synth_images, artifacts_dir):
    lm = perplexity.load_model(os.path.join(artifacts_dir, "lm.npz"))
    ppl = perplexity.ppl_batch(synth_images["caption"].tolist(), lm)
    m = synth_images.assign(ppl=ppl)
    real = m[m["true_lang"].isin(("en", "es", "de", "fr"))
             & (m["caption"].str.len() > 20)]
    junk = m[(m["true_lang"] == "junk")
             & m["caption"].str.contains(r"[#$%&*+=@!?~^|<>{}\[\]()]",
                                         regex=True)]
    assert real["ppl"].median() < spec.PPL_MAX
    assert (junk["ppl"] > spec.PPL_MAX).mean() > 0.9


def test_empty_inputs():
    logp, langs = langid.load_model(
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "artifacts", "langid.npz"))
    pred, conf = langid.predict_batch(["", None, "ab"], logp, langs)
    assert pred[0] == langid.UNKNOWN
    assert conf[0] == 0.0


def test_fused_gates_equals_split_udfs(spark, artifacts_dir):
    """The fused gate UDF (functions/gates.py) must agree exactly with
    the two numpy scorers it wraps, called directly."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bioanalyzer_backend_spark.functions import gates

    texts = ["the quick brown fox", "el rapido zorro marron", "",
             "!!! ### $$$", "数据 质量", "mixed text with la de en words"]
    pdf = pd.DataFrame({"id": range(len(texts)), "caption": texts})
    df = spark.createDataFrame(pdf, "id long, caption string")
    lp = os.path.join(artifacts_dir, "langid.npz")
    pp = os.path.join(artifacts_dir, "lm.npz")
    g = gates.make_pandas_udf(lp, pp)
    got = (df.withColumn("_g", g(F.col("caption")))
           .selectExpr("id", "_g.lang", "_g.lang_conf", "_g.ppl")
           .toPandas().sort_values("id"))
    lang, conf = langid.predict_batch(texts, *langid.load_model(lp))
    ppl = perplexity.ppl_batch(texts, perplexity.load_model(pp))
    assert got["lang"].tolist() == list(lang)
    assert np.array_equal(got["lang_conf"].to_numpy(), conf)
    assert np.array_equal(got["ppl"].to_numpy(), ppl)
