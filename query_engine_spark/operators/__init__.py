from query_engine_spark.operators.ordering import ORD, stamp_ord

__all__ = ["ORD", "stamp_ord"]
