"""Workload sizes, kept apart from the modules that import the program so
run.py can set the program's environment before the program is imported."""

PAGES_DOCS = 1000
PAGES_FLOOD_FRAC = 0.15   # half identical text, half near-duplicates

RPV2_DOCS = 20_000
# The program's driver/distributed CC switch (config.CC_DRIVER_THRESHOLD,
# env RPV2_CC_DRIVER_THRESHOLD) is 1M edges, sized for ~1.2M-doc inputs.
# The rpv2 workload scales it with its doc count so that, as at production
# scale, its edge set lies above the threshold and CC runs distributed.
RPV2_CC_THRESHOLD = RPV2_DOCS // 2
