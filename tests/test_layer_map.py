from perfbench.test_layers import *  # noqa: F403 - the layer-map guard runs with the unit tests
