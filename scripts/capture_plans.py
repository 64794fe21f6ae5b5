"""Capture .explain('formatted') for the headline queries (guide §1).

Usage: python scripts/capture_plans.py <suffix> [name ...]
Writes plans/$PLANS_DIR/<query>_<suffix>.txt for each headline query
(or the explicitly named ones); PLANS_DIR defaults to r16."""
import io
import os
import sys
from contextlib import redirect_stdout

from universal_data_to_orc_converter_spark.registry import HEADLINE, load_all_queries
from universal_data_to_orc_converter_spark.session import get_spark

SF = "/root/testdata/sf0.1"

def main():
    suffix = sys.argv[1]
    names = sys.argv[2:] or HEADLINE
    plans_dir = os.environ.get("PLANS_DIR", "r16")
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all_queries()
    for name in names:
        df = specs[name].fn(spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(f"plans/{plans_dir}/{name}_{suffix}.txt", "w") as f:
            f.write(buf.getvalue())
        print(f"wrote plans/{plans_dir}/{name}_{suffix}.txt")
    spark.stop()

if __name__ == "__main__":
    main()
