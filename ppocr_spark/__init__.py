"""ppocr_spark — a from-scratch PySpark-native extraction engine with the
capabilities of hiroi-sora/PaddleOCR-json (detect → angle-classify → recognize
OCR plus reading-order/paragraph layout post-processing), re-expressed as
vectorized DataFrame stages over a table of interleaved text+media documents.

Reference semantics are cited per-module as ``file:line`` into /root/reference.
No code is copied from the reference; the architecture is Spark-first
(DataFrame/Catalyst + pandas/Arrow UDFs), not a port of the C++ engine.
"""

from ppocr_spark import _zipfinders

_zipfinders.install()  # before any engine UDF runs in a worker; see module

from ppocr_spark.config import PPOCRConfig
from ppocr_spark.status import StatusCode

__version__ = "0.1.0"

__all__ = ["PPOCRConfig", "StatusCode", "__version__"]
