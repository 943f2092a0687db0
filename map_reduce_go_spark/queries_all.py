"""Import every query-bearing module so registration side effects run.

Add one import line per new module; ``registry.all_queries()`` pulls this in.
"""

import map_reduce_go_spark.operators.dedup  # noqa: F401
import map_reduce_go_spark.operators.mrapps  # noqa: F401
import map_reduce_go_spark.operators.multimodal  # noqa: F401
import map_reduce_go_spark.operators.similarity  # noqa: F401
import map_reduce_go_spark.operators.textstats  # noqa: F401
import map_reduce_go_spark.plans.relational  # noqa: F401
import map_reduce_go_spark.plans.events  # noqa: F401
import map_reduce_go_spark.plans.funnel  # noqa: F401
import map_reduce_go_spark.plans.temporal  # noqa: F401
import map_reduce_go_spark.plans.tpch_partsupp  # noqa: F401
import map_reduce_go_spark.plans.tpch_shapes  # noqa: F401
import map_reduce_go_spark.operators.pipeline  # noqa: F401
import map_reduce_go_spark.functions.skew  # noqa: F401
import map_reduce_go_spark.plans.warehouse  # noqa: F401
import map_reduce_go_spark.operators.sketches  # noqa: F401
import map_reduce_go_spark.plans.governance  # noqa: F401
import map_reduce_go_spark.plans.mleval  # noqa: F401
import map_reduce_go_spark.operators.ann_index  # noqa: F401
import map_reduce_go_spark.operators.kvstore  # noqa: F401
import map_reduce_go_spark.operators.shardctrler  # noqa: F401
