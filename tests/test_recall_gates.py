"""In-query recall gates of the approximate registry queries must run
on every call: a gate remembered from an earlier pass would hide a
recall regression behind it and leave the gate's cost out of every
repeated timing."""

from __future__ import annotations

from datapipeline_scraping_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE


def test_q75_fits_its_ivf_index_on_every_call(spark, monkeypatch):
    """Two q75 calls in one process train the KMeans coarse quantizer
    twice — each call checks the trained index's recall floor — and
    return the same exact top-5 rows."""
    from pyspark.ml.clustering import KMeans

    fits = []
    real_fit = KMeans.fit

    def counting_fit(self, *args, **kwargs):
        fits.append(1)
        return real_fit(self, *args, **kwargs)

    monkeypatch.setattr(KMeans, "fit", counting_fit)
    q75 = REGISTRY["q75_kmeans_ivf_topk"].fn
    first = q75(spark, SF_SMOKE).collect()
    second = q75(spark, SF_SMOKE).collect()
    spark.catalog.clearCache()
    assert len(fits) == 2
    assert first and sorted(first) == sorted(second)
