"""Print one sha256 per rendered registry SQL string.

Covers every ``catalog_queries._SQL_BUILDERS`` entry in both dialects,
plus the SQL of the two cached Spark views the near-dup entries read
(``shingles_v`` and ``minhash_sig_v``). A renderer refactor that must
not change any SQL shows it by diffing this output before and after:

    python scripts/render_sql.py > before.txt   # on the parent commit
    python scripts/render_sql.py > after.txt    # on the change
    diff before.txt after.txt                   # empty: byte-identical

Rows are ``<sha256> <dialect> <name>``; no Spark session is started.
"""
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bioanalyzer_backend_spark.plans import catalog_queries as cq  # noqa: E402


def rendered() -> list[tuple[str, str, str]]:
    out = [(d, name, builder(d))
           for name, builder in cq._SQL_BUILDERS.items()
           for d in (cq.SPARK, cq.DUCK)]
    sig = cq._minhash_sig_ctes_inline(cq.SPARK,
                                      shingle_src=cq.MAT_SHINGLE_SRC)
    out.append((cq.SPARK, "view:shingles_v", cq._shingles(cq.SPARK)))
    out.append((cq.SPARK, "view:minhash_sig_v",
                f"WITH {sig} SELECT * FROM sig"))
    return out


def main() -> int:
    for d, name, sql in rendered():
        print(hashlib.sha256(sql.encode()).hexdigest(), d, name)
    return 0


if __name__ == "__main__":
    sys.exit(main())
