"""Schema registry for the reference's record types (SURVEY.md §1.2).

The reference derives schemas from Java classes via reflection
(`TypeExtractor.createTypeInfo`, topn/HotItems.java:49-53). Spark's
equivalent authority is an explicit ``StructType`` / DDL string; this
module pins every POJO/tuple type the reference ships so readers,
generators, and tests share one definition.

Each DDL cites the defining reference file. Epoch-time fields keep the
raw long column AND get a derived TimestampType at ingest (§1.2 table)
— see :func:`with_event_time`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# topn/pojo/UserBehavior.java:9-20 (timestamp = epoch seconds,
# HotItems.java:62 multiplies by 1000)
USER_BEHAVIOR_DDL = (
    "userId long, itemId long, categoryId int, behavior string, "
    "timestamp long"
)

# connect/pojo/Order.java:6-24 (time = epoch millis)
ORDER_DDL = (
    "time long, orderId string, userId string, goodsId int, "
    "price int, cityId int"
)

# connect/pojo/Goods.java:6-19 (isRemove: dim-delete marker)
GOODS_DDL = "goodsId int, goodsName string, isRemove boolean"

# connectors/pojo/Student.java:3-7
STUDENT_DDL = "userId int, name string, score double"

# connectors/pojo/Log.java:8-13 (@JsonProperty("user_id") renames the
# JSON key; the Spark column keeps the JSON name)
LOG_DDL = "plat string, lt string, user_id int, timestamp long"

# cep/pojo/Event.java:32-34 + SubEvent.java (subtype adds volume;
# §1.2: superset struct with nullable volume + discriminator)
CEP_EVENT_DDL = "id int, name string, price double, volume double"

# state/pojo/Action.java:8-9, Pattern.java:8-9, Transaction.java:5-6
ACTION_DDL = "userId long, action string"
PATTERN_DDL = "firstAction string, secondAction string"
TRANSACTION_DDL = "accountId long, amount double"

# flink-sql/sql/dml/CEP.md:44-49 Ticker table (MATCH_RECOGNIZE input)
TICKER_DDL = "symbol string, rowtime timestamp, price long, tax long"


def with_event_time(
    df: DataFrame,
    epoch_col: str,
    unit: str = "seconds",
) -> DataFrame:
    """Attach a TimestampType event-time column derived from a raw epoch
    long (kept alongside, §1.2): HotItems.java:62 seconds×1000 and
    Order.java:8-9 millis both normalize here."""
    src: Column = F.col(epoch_col).cast("long")
    if unit == "seconds":
        ts = F.timestamp_seconds(src)
    elif unit == "millis":
        ts = F.timestamp_millis(src)
    else:
        raise ValueError(f"unit must be seconds|millis, got {unit!r}")
    return df.withColumn("event_time", ts)
