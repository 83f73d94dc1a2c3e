def pytest_configure(config):
    config.addinivalue_line(
        "markers", "smoke: spawns the real stdio server (slow; needs Java)"
    )
