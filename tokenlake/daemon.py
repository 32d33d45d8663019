"""Python worker daemon of local sessions (session.get_spark): pyspark's own
daemon, started once pandas, pyarrow and the kernels are imported, so every
worker it forks has them loaded. These imports run before the fork and must
stay side-effect-free: no threads, no open files, no py4j or SparkSession."""

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
from pyspark import daemon

from tokenlake import decode_job, encode_job, lint_job  # noqa: F401

if __name__ == "__main__":
    daemon.manager()
