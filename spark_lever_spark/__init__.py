"""spark_lever_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference engine (trueyao/spark-lever, a Spark
1.3.0 fork adding the "Lever" straggler-mitigation runtime) in
idiomatic modern PySpark: DataFrame/SQL for the relational surface,
Structured Streaming for the micro-batch streaming surface, and a
listener-driven Python control loop for the Lever-equivalent adaptive
load balancer.

Nothing in here is a port: logical plans are declared through the
DataFrame API and optimized by Catalyst; the engineering lives in the
API surface, the streaming parity layer, the load balancer, and the
LLM-data-pipeline operators (dedup / similarity / text analysis /
multimodal plumbing).
"""

__version__ = "0.1.0"
