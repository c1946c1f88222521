-- A small stand-in for crunch_global.sql of the reference, written in its
-- MySQL dialect: a positional INSERT ... SELECT over the participant ids of
-- one batch (the :participant_api_ids list the worker inlines), the
-- item-use stubs, and an additive ON DUPLICATE KEY UPDATE tail. It groups
-- on the hero, game mode and role of each participant and fills the other
-- key columns with constants, so it needs no dimension table. The
-- worker's id list is bound after comments are stripped, so a comment
-- may hold quote characters: it's not a literal.
insert low_priority into global_point
select
  null,
  now(),
  0,
  0,
  p.hero_id,
  p.game_mode_id,
  0,
  0,
  p.role_id,
  0,
  0,
  0,
  count(*) as played,
  sum(p.winner) as wins,
  sum(p.trueskill_delta) as trueskill_delta,
  sum(ps.duration) as time_spent,
  sum(ps.kills) as kills,
  sum(ps.deaths) as deaths,
  sum(ps.assists) as assists,
  sum(ps.farm) as farm,
  sum(ps.minion_kills) as minion_kills,
  sum(ps.jungle_kills) as jungle_kills,
  sum(ps.non_jungle_minion_kills) as non_jungle_minion_kills,
  sum(ps.crystal_mine_captures) as crystal_mine_captures,
  sum(ps.gold_mine_captures) as gold_mine_captures,
  sum(ps.kraken_captures) as kraken_captures,
  sum(ps.turret_captures) as turret_captures,
  sum(ps.gold) as gold,
  sum(ps.impact_score) as impact_score,
  sum(p_i.surrender) as surrender,
  _p_i_item_uses_insert
from participant p
join participant_stats ps on ps.participant_api_id = p.api_id
join participant_items p_i on p_i.participant_api_id = p.api_id
where p.api_id in (:participant_api_ids)
group by p.hero_id, p.game_mode_id, p.role_id
on duplicate key update
  played = played + values(played),
  wins = wins + values(wins),
  trueskill_delta = trueskill_delta + values(trueskill_delta),
  time_spent = time_spent + values(time_spent),
  kills = kills + values(kills),
  deaths = deaths + values(deaths),
  assists = assists + values(assists),
  farm = farm + values(farm),
  minion_kills = minion_kills + values(minion_kills),
  jungle_kills = jungle_kills + values(jungle_kills),
  non_jungle_minion_kills = non_jungle_minion_kills + values(non_jungle_minion_kills),
  crystal_mine_captures = crystal_mine_captures + values(crystal_mine_captures),
  gold_mine_captures = gold_mine_captures + values(gold_mine_captures),
  kraken_captures = kraken_captures + values(kraken_captures),
  turret_captures = turret_captures + values(turret_captures),
  gold = gold + values(gold),
  impact_score = impact_score + values(impact_score),
  surrender = surrender + values(surrender),
  _p_i_item_uses_update
