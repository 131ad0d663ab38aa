"""``sitecustomize`` of the Python workers of local sessions: ``site``
imports it at start-up of every Python process Spark starts with this
directory on PYTHONPATH (``session._LOCAL_WORKER_CONFS``).  The directory
holds only this file, so no driver interpreter imports it.

It shadows any other ``sitecustomize`` on the workers' path, which then
does not run; the interpreters this was written for have none.  If the
import below fails, ``site`` prints the error to stderr and the worker
runs stock pyspark: slower, still correct.
"""

from kafkastreaming_spark import pydaemon

pydaemon.install()
