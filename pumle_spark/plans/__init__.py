"""Plan inspection (SURVEY §4): the executed plan as text for the plan-shape
tests and perfbench's plan layer, and the formatted plan tools/probe.py
fingerprints."""
