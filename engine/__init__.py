"""PySpark-native analytics engine — capability parity with the
diewaldnicole/dsia_big_data reference (which is an empty coursework repo,
reference/README.md:1-2); the implemented surface is SURVEY.md §2.

Importing :mod:`engine` pulls in every operator module, populating the
registry in :mod:`engine.core`.
"""

from engine.core import ORACLES, QUERIES, ROWS_ONLY  # noqa: F401

# Import order mirrors SURVEY.md §2 sections; each import registers keys.
from engine import io  # noqa: F401  §2.1
from engine import aggregates  # noqa: F401  §2.4
from engine import relational  # noqa: F401  §2.2, §2.6, §2.7
from engine import joins  # noqa: F401  §2.3
from engine import windows  # noqa: F401  §2.5
from engine import functions  # noqa: F401  §2.8
from engine import text  # noqa: F401  §2.9
from engine import dedup  # noqa: F401  §2.9
from engine import similarity  # noqa: F401  §2.9
from engine import events  # noqa: F401  §2.10
from engine import streaming  # noqa: F401  §2.10
from engine import udfs  # noqa: F401  §2.11
from engine import multimodal  # noqa: F401  beyond §2: binary media columns
from engine import sketches  # noqa: F401  beyond §2: theta/KLL DataSketches
from engine import features  # noqa: F401  beyond §2: training-data features
from engine import composite  # noqa: F401  beyond §2: TPC-H-shaped workloads
