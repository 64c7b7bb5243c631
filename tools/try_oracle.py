#!/usr/bin/env python3
"""Dev tool: try a candidate oracle SQL against an existing Verify dump
without re-running Spark. Usage:
  python3 tools/try_oracle.py <sfDir> <verifyOutDir> <queryName> <sqlFile>
Prints the same verdict check_oracle.py would, plus a sample of the
one-sided rows when the row counts differ."""
import sys
from check_oracle import check, connect, read_dump

sf, out, name, sqlfile = sys.argv[1:5]
ok = check(connect(sf), name, read_dump(f"{out}/{name}"), open(sqlfile).read(),
           row_diff=True)
sys.exit(0 if ok else 1)
