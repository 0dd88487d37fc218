"""Per-domain driver query modules, registered in
``plans.driver_queries.QUERIES``."""
