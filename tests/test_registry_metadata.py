"""Registry tier/family metadata (VERDICT r7 #7): 247 flat names now
carry a family + tier so the headline set and any principled driver
sampling select over structure, not position."""

from __future__ import annotations

from selfhealingdatapipeline_gcp_spark import registry


def test_every_entry_has_family_and_tier():
    ents = registry.entries()
    assert len(ents) >= 247
    for name, e in ents.items():
        assert e.tier in registry.TIERS, name
        assert e.family and isinstance(e.family, str), name


def test_flagship_tier_matches_bench_core():
    ents = registry.entries()
    flag = {n for n, e in ents.items() if e.tier == "flagship"}
    assert flag == set(registry.FLAGSHIP)
    assert len(flag) == 19


def test_diagnostic_tier_names_have_scale_forms():
    """Every diagnostic entry's scale alternative is itself
    registered (the auto-fallback target exists)."""
    ents = registry.entries()
    diag = {n for n, e in ents.items() if e.tier == "diagnostic"}
    assert diag == {"er_name_pairs", "dedup_embedding"}
    assert "er_name_links" in ents
    assert "dedup_embedding_cells" in ents
    # both scale forms are headline tier since r9
    assert ents["er_name_links"].tier == "headline"
    assert ents["dedup_embedding_cells"].tier == "headline"


def test_bench_headline_is_tier_derived():
    """VERDICT r8 #5: the headline set is registry metadata, not a
    hand-maintained list — flagship + headline tiers, and explicit
    diagnostic registrations stay OUT even where a stale list would
    have included them (er_name_pairs)."""
    ents = registry.entries()
    derived = [n for n, e in ents.items()
               if e.tier in ("flagship", "headline")]
    # the two tuples are the only place a headline tier is decided
    assert set(derived) == set(registry.FLAGSHIP) | set(registry.HEADLINE)
    assert "er_name_pairs" not in derived          # tier="diagnostic"
    assert "dedup_embedding" not in derived        # tier="diagnostic"
    # every first-class family keeps at least one headline query
    fam_headline = {ents[n].family for n in derived}
    for fam in ("dedup", "similarity", "embedding", "multimodal",
                "text", "streaming", "monitoring", "quality",
                "dataprep", "entity-resolution", "cdc", "search",
                "tpch", "product-analytics"):
        assert fam in fam_headline, f"family {fam} has no headline query"


def test_tier_metadata_validates_names():
    """A typo in FLAGSHIP/HEADLINE must fail loudly at load, not
    silently shrink the headline set."""
    assert all(n in registry.entries()
               for n in (*registry.FLAGSHIP, *registry.HEADLINE))


def test_queries_by_family_partitions_registry():
    fams = registry.queries_by_family()
    names = [n for group in fams.values() for n in group]
    assert sorted(names) == sorted(registry.entries())
    # the families the brief treats as first-class all exist and are
    # populated
    for fam in ("dedup", "similarity", "embedding", "multimodal",
                "text", "streaming", "monitoring", "quality",
                "dataprep", "entity-resolution", "cdc", "search",
                "tpch", "product-analytics"):
        assert fams.get(fam), f"family {fam} empty"
    # spot checks: names land where a user would look for them
    assert "dedup_minhash_lsh" in fams["dedup"]
    assert "ann_ivf_topk" in fams["similarity"]
    assert "streaming_sessionize" in fams["streaming"]
    assert "q9_profit_by_nation_year" in fams["tpch"]
    assert "er_name_links" in fams["entity-resolution"]
