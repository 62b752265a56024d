import pytest

from pdf2ontology_spark import png_codec, raster
from pdf2ontology_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pdf2ontology_tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_blobs(spark, tmp_path_factory):
    """``fixture_blobs(refs)`` -> a (media_ref, png) blob store holding
    each ref's fixture raster (``raster.synth_raster``) as real PNG
    bytes — what the corpus blob store holds for a corpus ref. Stored
    as parquet like the corpus store, so the media stage's blob join
    plans as it does on a corpus (a small store is broadcast)."""

    def make(refs):
        path = str(tmp_path_factory.mktemp("blobs"))
        spark.createDataFrame(
            [
                (r, bytearray(png_codec.encode_png_gray(raster.synth_raster(r))))
                for r in dict.fromkeys(refs)
            ],
            "media_ref string, png binary",
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    return make
