#!/usr/bin/env python3
"""Checks a SQLite database with the sqlite3 library Python ships.

Usage: sqlite_check.py <db>
Prints the integrity-check result, then `table=rows` for every table in
name order, on one line: `ok t1=10 t2=20`.
"""
import sqlite3
import sys

con = sqlite3.connect(f"file:{sys.argv[1]}?mode=ro", uri=True)
try:
    status = ";".join(r[0] for r in con.execute("PRAGMA integrity_check"))
    names = [r[0] for r in con.execute(
        "SELECT name FROM sqlite_master WHERE type = 'table' ORDER BY name")]
    counts = []
    for n in names:
        rows = con.execute('SELECT count(*) FROM "%s"' % n.replace('"', '""')).fetchone()[0]
        counts.append(f"{n}={rows}")
finally:
    con.close()
print(" ".join([status] + counts))
