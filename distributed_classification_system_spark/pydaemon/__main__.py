"""``python -m distributed_classification_system_spark.pydaemon``: pyspark's
daemon with the conditional zip re-read installed before it forks workers."""

from pyspark.daemon import manager

from distributed_classification_system_spark.pydaemon import install

if __name__ == "__main__":
    install()
    manager()
