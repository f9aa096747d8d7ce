"""Session helpers: the py-files memo is keyed by the application, not
by the SparkContext object's ``id``."""

import os

from jsi_spark import session


class _Context:
    def __init__(self, app_id):
        self.applicationId = app_id
        self.shipped = []

    def addPyFile(self, path):
        self.shipped.append(path)


class _Session:
    def __init__(self, app_id):
        self.sparkContext = _Context(app_id)


def test_ensure_py_files_reships_for_a_new_application(monkeypatch):
    """A context stopped and replaced can reuse the old object's ``id``;
    the memo must still ship the package to the new application, once."""
    monkeypatch.setattr(session, "_PY_FILES_SENT", set())
    spark = _Session("app-1")
    try:
        session.ensure_py_files(spark)
        session.ensure_py_files(spark)
        assert len(spark.sparkContext.shipped) == 1
        # same Python object (same id()), new application
        spark.sparkContext.applicationId = "app-2"
        session.ensure_py_files(spark)
        assert len(spark.sparkContext.shipped) == 2
        session.ensure_py_files(spark)
        assert len(spark.sparkContext.shipped) == 2
    finally:
        for path in spark.sparkContext.shipped:
            os.remove(path)
