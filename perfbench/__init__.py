"""Link-graph benchmark for gminer_spark (see README.md)."""
