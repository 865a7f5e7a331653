def pytest_configure(config):
    config.addinivalue_line("markers", "smoke: starts a Spark application per workload (slow)")
