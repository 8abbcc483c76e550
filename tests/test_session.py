from delta_rs_spark.session import default_driver_memory


def test_driver_memory_default_follows_memtotal(tmp_path):
    """Half of MemTotal in whole GiB, at least 1g and at most 16g."""

    def meminfo(kib: int) -> str:
        p = tmp_path / f"meminfo-{kib}"
        p.write_text(f"MemFree:         1024 kB\nMemTotal:       {kib} kB\n")
        return str(p)

    gib = 1024 * 1024
    assert default_driver_memory(meminfo(16093 * 1024)) == "7g"  # a 15.7 GB VM
    assert default_driver_memory(meminfo(256 * gib)) == "16g"
    assert default_driver_memory(meminfo(gib)) == "1g"
    assert default_driver_memory(str(tmp_path / "missing")) == "4g"
