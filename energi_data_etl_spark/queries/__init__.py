from .catalog import QUERIES, Query, query, oracle_sqls  # noqa: F401

# Importing the query modules registers them in QUERIES. The catalog's
# order is this import order, then each module's declaration order.
from . import flagship  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import functions  # noqa: F401,E402
from . import joins  # noqa: F401,E402
from . import windows  # noqa: F401,E402
# llm before streaming: streaming's SimHash oracles import llm's CTE.
from . import llm  # noqa: F401,E402
from . import streaming  # noqa: F401,E402
from . import analytics  # noqa: F401,E402
from . import tpch  # noqa: F401,E402
from . import extensions  # noqa: F401,E402
from . import robustness  # noqa: F401,E402
from . import datapipe  # noqa: F401,E402
from . import timeseries  # noqa: F401,E402
from . import lifecycle  # noqa: F401,E402
from . import behavior  # noqa: F401,E402
from . import quality  # noqa: F401
from . import opsanalytics  # noqa: F401,E402
from . import spatial  # noqa: F401,E402
from . import sketches  # noqa: F401,E402
