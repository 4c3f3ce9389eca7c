"""get_spark: the worker import path travels with the session, so
Python workers import hex2vec_spark whatever directory the application
started in."""

import os

from hex2vec_spark.plans import session

KEY = "spark.executorEnv.PYTHONPATH"


class TestWorkerImportPath:
    def test_session_sets_package_root(self, spark):
        def worker_pythonpath(batches):
            import os

            import pandas as pd

            for _ in batches:
                yield pd.DataFrame({"p": [os.environ.get("PYTHONPATH", "")]})

        root = session.PACKAGE_ROOT
        assert os.path.isdir(os.path.join(root, "hex2vec_spark"))
        assert spark.sparkContext.getConf().get(KEY) == root
        seen = spark.range(1).mapInPandas(worker_pythonpath, "p string").first()["p"]
        assert root in seen.split(os.pathsep)

    def test_extra_overrides_package_root(self):
        assert session.session_conf()[KEY] == session.PACKAGE_ROOT
        conf = session.session_conf(extra={KEY: "/elsewhere"})
        assert conf[KEY] == "/elsewhere"
        # the profile still applies underneath the override
        assert conf["spark.sql.adaptive.enabled"] == "true"
