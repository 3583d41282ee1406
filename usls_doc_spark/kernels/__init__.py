"""numpy/python kernels, plus the C HTML block parser (_blockparse.c, built
by native.py on first import) — no Spark imports here.

Each kernel mirrors a reference operator (SURVEY.md §2) and carries a
file:line citation to /root/reference for parity checking.
"""
