import threading

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from elasticsearch_drift_plugin_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("spark-drift-tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


class ProgressLog(StreamingQueryListener):
    """Every progress event of every query, kept for the whole session.

    ``StreamingQuery.recentProgress`` is a bounded ring, and idle triggers
    (0-row progress records) evict the ingesting batches from it under
    load, so batch counts read from it can go down."""

    def __init__(self):
        self._lock = threading.Lock()
        self._rows: dict[str, dict[int, int]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self._rows.setdefault(str(p.id), {})[p.batchId] = p.numInputRows

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def input_rows(self, q) -> dict[int, int]:
        """batchId -> input rows of every batch ``q`` has committed."""
        with self._lock:
            return dict(self._rows.get(str(q.id), {}))


@pytest.fixture(scope="session")
def progress(spark):
    log = ProgressLog()
    spark.streams.addListener(log)
    yield log
    spark.streams.removeListener(log)
