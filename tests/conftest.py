import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from xrenner_spark.session import get_spark
    spark = get_spark("pytest", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


#: the doc ids corrupt_pages breaks: no markers at all (nothing to
#: extract), and a tampered article (extraction no longer byte-identical
#: to the text column)
CORRUPT_IDS = (3, 7)


@pytest.fixture(scope="session")
def corrupt_pages(spark):
    """Factory: corpus pages 0..n-1 as a DataFrame, with the two pages in
    CORRUPT_IDS broken.  Returns (pages, urls of the broken pages)."""
    def make(n=10, partitions=2):
        import pandas as pd
        from xrenner_spark.corpus import build_page
        from xrenner_spark.pipeline import PAGES_SCHEMA
        markerless, tampered = CORRUPT_IDS
        rows = [build_page(i) for i in range(n)]
        rows[markerless]["html"] = b"<html>no article, no parse</html>"
        rows[tampered]["html"] = rows[tampered]["html"].replace(
            b"<article>", b"<article>TAMPERED ")
        pdf = pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])
        pages = spark.createDataFrame(pdf, schema=PAGES_SCHEMA).repartition(partitions)
        return pages, {rows[i]["url"] for i in CORRUPT_IDS}
    return make
