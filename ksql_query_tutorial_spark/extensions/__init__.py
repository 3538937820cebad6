"""Extension query catalog: the LLM-training-data-pipeline
operators (dedup / similarity / text analysis / corpus curation /
multimodal / events / graph / privacy / retail analytics) as declared
queries over the driver fixtures, with DuckDB oracles where the
semantics are SQL-expressible (otherwise the driver's rows-only check
applies: IVF/PQ-ANN with learned centroids).

One module per family. Each query is declared once, in one of two
ways, and both file the builder and its oracle under the query's name in
the ``_registry`` catalog (``EXTENSION_QUERIES`` / ``EXTENSION_ORACLES``):

- ``@query(oracle=...)`` on a ``(spark, sf_dir)`` builder, named by the
  function;
- one ``CREATE TABLE name AS SELECT`` of a family's KSQL script, compiled
  by ``queries.compiled`` like the tutorial's ``queries.sql`` and named
  by the collection. Five scripts hold their families' relational
  queries this way: ``retail.sql``, ``events.sql``, ``privacy.sql``,
  ``corpus.sql`` and ``text.sql``; the family module of each registers it
  with ``_registry.script`` and its oracles, which also keeps each
  SELECT in ``_registry.SCRIPT_SELECTS``.

Importing the modules here, in dependency order, fills that catalog in
a fixed order. ``from ksql_query_tutorial_spark.extensions import X``
works for every ``@query`` builder; a script query is reached by name,
``EXTENSION_QUERIES[name]``.

Thresholds are calibrated to the fixtures: document near-dups are
planted with shingle-Jaccard >= 0.5 (noise pairs < 0.1), embedding
near-neighbors peak at cosine ~ 0.51 — so jaccard_threshold=0.5 and
cosine_threshold=0.4 select the planted structure.
"""

from ._registry import EXTENSION_ORACLES, EXTENSION_QUERIES  # noqa: F401
from ._shared import *  # noqa: F401,F403,E402
from .text_q import *  # noqa: F401,F403,E402
from .dedup_q import *  # noqa: F401,F403,E402
from .similarity_q import *  # noqa: F401,F403,E402
from .joins_q import *  # noqa: F401,F403,E402
from .mm_q import *  # noqa: F401,F403,E402
from .corpus_q import *  # noqa: F401,F403,E402
from .events_q import *  # noqa: F401,F403,E402
from .graph_q import *  # noqa: F401,F403,E402
from .privacy_q import *  # noqa: F401,F403,E402
from .retail_q import *  # noqa: F401,F403,E402
